"""Time-series & LM wave 7 (SURVEY.md §2.18 extensions): hourly gap-fill
with forward fill, rolling z-score anomaly flags, FULL OUTER join
reconciliation, and bigram-LM document scoring — the hypertable-style
resample/anomaly pair plus the remaining join type and the n-gram upgrade
of the unigram quality filter.

All [Q]: exact DuckDB twins. Determinism engineering: rolling-window
moments sum DECIMAL-rounded values (exact, order-free) before any double
division; per-doc log-prob sums use round-6 decimals (the unigram-LM
pattern); gap-fill's per-bucket pick is a (ts, event_id) row_number — a
total order, so engines can't disagree on which event survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..sources import load_table
from ..sources.catalog import spread
from .registry import register


# ---------------------------------------------------------------------------
# hourly gap-fill + forward fill (time-series resample)
# ---------------------------------------------------------------------------

@register(
    "events_gap_fill",
    oracle="""
WITH span AS (
  SELECT user_id,
         date_trunc('hour', min(ts)) AS hmin,
         date_trunc('hour', max(ts)) AS hmax
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id,
         unnest(generate_series(hmin, hmax, INTERVAL '1 hour')) AS hour
  FROM span
),
obs AS (
  SELECT user_id, hour, value FROM (
    SELECT user_id, date_trunc('hour', ts) AS hour, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rk
    FROM events
  ) WHERE rk = 1
)
SELECT g.user_id, g.hour,
       CAST(round(last_value(o.value IGNORE NULLS)
              OVER (PARTITION BY g.user_id ORDER BY g.hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
            AS DOUBLE) AS filled_value,
       o.value IS NOT NULL AS is_observed
FROM grid g
LEFT JOIN obs o ON o.user_id = g.user_id AND o.hour = g.hour
""",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with forward fill: densify each user's event stream
    onto a complete hourly grid between their first and last event, carry
    the last observed value across silent hours, and flag which grid rows
    were observed — the resample step every time-series/feature pipeline
    runs before windowed models. The per-hour survivor is the event with
    the max (ts, event_id) — a total order, so both engines pick the same
    row.

    Scale shape: the grid explodes from one row per user (sequence is
    array-local); observation picking and forward fill share the
    user-keyed shuffle. Forward fill is last(ignore nulls) over an
    unbounded-preceding ROWS frame — sequential per user, bounded state.
    The densification factor (span hours / events) is the cost knob; at
    100 TB the grid is generated per (user, day) partition instead of per
    user, same plan.
    """
    e = load_table(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("hmin"),
        F.date_trunc("hour", F.max("ts")).alias("hmax"),
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id", "hour").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    obs = (
        e.select(
            "user_id",
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select("user_id", "hour", "value")
    )
    ffill = Window.partitionBy("user_id").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(obs, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.round(F.last("value", ignorenulls=True).over(ffill), 6)
            .cast("double")
            .alias("filled_value"),
            F.col("value").isNotNull().alias("is_observed"),
        )
    )


# ---------------------------------------------------------------------------
# rolling z-score anomaly flags
# ---------------------------------------------------------------------------

_Z_LOOKBACK = 6      # prior events in the frame
_Z_MIN_N = 3         # minimum history before scoring
_Z_THRESHOLD = 2.0   # |z| flag cutoff


@register(
    "events_rolling_zscore",
    oracle=f"""
WITH v AS (
  SELECT user_id, ts, event_id, value,
         CAST(round(value, 10) AS DECIMAL(28,10)) AS v10
  FROM events
),
m AS (
  SELECT user_id, ts, event_id, value,
         count(v10) OVER w AS n,
         CAST(sum(v10) OVER w AS DOUBLE) AS s,
         CAST(sum(CAST(v10 * v10 AS DECIMAL(38,18))) OVER w AS DOUBLE) AS sq
  FROM v
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_Z_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT user_id, ts, event_id, value, n,
         CASE WHEN n >= {_Z_MIN_N}
                   AND (sq - s * s / n) / (n - 1) > 0
              THEN round((value - s / n)
                         / sqrt((sq - s * s / n) / (n - 1)), 6)
              END AS zscore
  FROM m
)
SELECT user_id, ts, event_id, value,
       CAST(n AS BIGINT) AS n_history,
       CAST(zscore AS DOUBLE) AS zscore,
       coalesce(abs(zscore) > {_Z_THRESHOLD}, FALSE) AS is_anomaly
FROM z
""",
)
def events_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: score each event's value against
    the mean/std of that user's previous {k} events (frame excludes the
    current row — the score is out-of-sample) and flag |z| > {t} — the
    streaming-friendly outlier gate a metrics/quality pipeline runs before
    aggregation. Rows with under {m} prior events get a NULL score and no
    flag.

    Determinism: the frame sums DECIMAL-rounded values and squares
    (exact, order-free) and only then divides in double, so both engines
    compute bit-identical moments regardless of how they walk the frame
    (Spark recomputes per row; DuckDB uses segment trees — float sums
    would differ in ulps).

    Scale shape: one user-keyed shuffle, one sort, constant per-row frame
    state ({k} rows). The same expression runs under Structured Streaming
    as an applyInPandasWithState per-user deque; batch mode is the
    oracle-checkable twin.
    """
    e = load_table(spark, sf_dir, "events")
    v10 = F.round("value", 10).cast("decimal(28,10)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_LOOKBACK, -1)
    )
    base = e.select("user_id", "ts", "event_id", "value", v10.alias("v10"))
    m = base.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.count("v10").over(w).alias("n"),
        F.sum("v10").over(w).cast("double").alias("s"),
        F.sum((F.col("v10") * F.col("v10")).cast("decimal(38,18)"))
        .over(w)
        .cast("double")
        .alias("sq"),
    )
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(
        (F.col("n") >= _Z_MIN_N) & (var > 0),
        F.round((F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var), 6),
    )
    return m.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("n").cast("bigint").alias("n_history"),
        z.cast("double").alias("zscore"),
        F.coalesce(F.abs(z) > _Z_THRESHOLD, F.lit(False)).alias(
            "is_anomaly"
        ),
    )


events_rolling_zscore.__doc__ = events_rolling_zscore.__doc__.format(
    k=_Z_LOOKBACK, t=_Z_THRESHOLD, m=_Z_MIN_N
)


# ---------------------------------------------------------------------------
# FULL OUTER join reconciliation
# ---------------------------------------------------------------------------

@register(
    "rel_join_full_outer",
    oracle="""
SELECT coalesce(o.o_custkey, c.c_custkey) AS custkey,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       max(CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END) = 1
         AS has_customer,
       CAST(round(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0),
                  2) AS DOUBLE) AS total_spend
FROM orders o FULL OUTER JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY coalesce(o.o_custkey, c.c_custkey)
""",
)
def rel_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation: every customer and every order
    custkey appears exactly once — customers with no orders surface with
    zero counts, orders whose custkey is missing from the dimension (the
    data-quality case) surface with has_customer = false. The one join
    type the §2 inventory's semi/anti/left-outer family didn't yet
    exercise, in its standard audit-query role.

    Scale shape: full outer cannot broadcast (both sides must keep
    unmatched rows), so this is the one deliberate shuffle join in the
    join family — key-partitioned on custkey, AQE-handled skew. The
    decimal spend sum is partition-order insensitive.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    joined = o.join(c, o.o_custkey == c.c_custkey, "full_outer")
    return (
        joined.groupBy(
            F.coalesce("o_custkey", "c_custkey").alias("custkey")
        )
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.max(
                    F.when(F.col("c_custkey").isNull(), 0).otherwise(1)
                )
                == 1
            ).alias("has_customer"),
            F.round(
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                    F.lit(0),
                ),
                2,
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# bigram-LM document scoring (conditional-probability upgrade)
# ---------------------------------------------------------------------------

@register(
    "text_bigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {T.tokens_sql('text')} AS t FROM documents
),
tr AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 2)
),
bc AS (SELECT w1, w2, count(*) AS c_ab FROM tr GROUP BY w1, w2),
uni AS (
  SELECT word, count(*) AS c
  FROM (SELECT unnest(t) AS word FROM toks) GROUP BY word
),
vs AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
scored AS (
  SELECT tr.doc_id,
         CAST(round(log10((bc.c_ab + 1) / (uni.c + vs.v)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM tr
  JOIN bc ON bc.w1 = tr.w1 AND bc.w2 = tr.w2
  JOIN uni ON uni.word = tr.w1
  CROSS JOIN vs
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       -- raw IEEE quotient, deliberately NOT rounded: the numerator is an
       -- exact decimal (identical in both engines), so the division is
       -- bit-identical — but round() is not: quotients of a 1e-6-grid sum
       -- by small n land ON rounding boundaries every ~2n values, where
       -- Spark's decimal-string rounding and DuckDB's scaled-multiply
       -- rounding disagree (caught at sf0.1: doc 2540, sum -71.349240/48)
       CAST(sum(lp) AS DOUBLE) / count(*) AS avg_logprob
FROM scored GROUP BY doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: fit an add-1-smoothed bigram LM on
    the corpus (p(w2|w1) = (c(w1,w2)+1)/(c(w1)+V)) and score each document
    by its mean transition log-probability — the conditional-probability
    upgrade of `text_unigram_logprob` that separates plausible word ORDER
    from plausible word choice, catching shuffled/templated text the
    unigram filter scores as fluent.

    Scale shape: the LM is bigram-table-sized (|observed bigrams|, far
    below |V|^2), reduced map-side and broadcast back onto transitions;
    V is a broadcast 1-row aggregate. Per-doc sums add round-6 decimals
    (exact, order-free). Two counting shuffles + one doc-keyed aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = spread(docs).select("doc_id", T.tokens("text").alias("t"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("w1"),
            F.element_at(F.col("t"), i + 1).alias("w2"),
        ),
    )
    tr = (
        toks.where(F.size("t") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    bc = tr.groupBy("w1", "w2").agg(F.count("*").alias("c_ab"))
    uni = (
        toks.select(F.explode("t").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    vs = uni.agg(F.count("*").cast("double").alias("v"))
    lp = F.round(
        F.log10((F.col("c_ab") + 1) / (F.col("c") + F.col("v"))), 6
    ).cast("decimal(18,6)")
    scored = (
        tr.join(F.broadcast(bc), ["w1", "w2"])
        .join(
            F.broadcast(uni.withColumnRenamed("word", "w1")), "w1"
        )
        .crossJoin(F.broadcast(vs))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_transitions"),
        # raw quotient — see the oracle comment on why rounding here is
        # the one non-portable step
        (F.sum("lp").cast("double") / F.count("*"))
        .cast("double")
        .alias("avg_logprob"),
    )


@register(
    "events_debounce_bursts",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL '6 hours'
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
bursts AS (
  SELECT user_id, ts, event_id,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS burst_id
  FROM ordered
)
SELECT user_id,
       min(ts) AS burst_start,
       CAST(first(event_id ORDER BY ts, event_id) AS BIGINT) AS kept_event_id,
       CAST(count(*) - 1 AS BIGINT) AS n_suppressed
FROM bursts
GROUP BY user_id, burst_id
""",
)
def events_debounce_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debounce: keep only the FIRST event of each activity burst per
    user (bursts end after 6 h of inactivity) and count what was
    suppressed — duplicate-click / retry suppression, the events-side
    analog of keep-first dedup, expressed with the native session_window
    instead of the sessionize-by-hand lag + cumulative-sum the oracle
    spells out.

    Scale shape: one user-keyed shuffle into session_window groups; the
    kept event is a lexicographic min of (ts, event_id) structs inside the
    aggregate — no second window pass, no join back. Same state bounds as
    any session aggregation."""
    e = load_table(spark, sf_dir, "events")
    first = F.min(F.struct("ts", "event_id")).alias("first")
    return (
        e.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(first, F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("burst_start"),
            F.col("first.event_id").cast("bigint").alias("kept_event_id"),
            (F.col("n") - 1).cast("bigint").alias("n_suppressed"),
        )
    )


# ---------------------------------------------------------------------------
# robust anomaly detection — median / MAD outlier profile
# ---------------------------------------------------------------------------

MAD_K = 3.0          # flag beyond 3 robust standard deviations
MAD_SCALE = 1.4826   # MAD -> sigma consistency constant for normal data


@register(
    "events_anomaly_mad",
    oracle=f"""
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, median(dev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN CAST(round(d.dev, 6) AS DECIMAL(18,6))
                        > CAST(round({MAD_K} * {MAD_SCALE} * m.mad, 6)
                               AS DECIMAL(18,6))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(round(min(d.med), 6) AS DOUBLE) AS med,
       CAST(round(min(m.mad), 6) AS DOUBLE) AS mad
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: median/MAD instead of
    mean/stddev, so the estimator itself is immune to the outliers it is
    hunting (rolling_zscore's moments are not). An event is anomalous when
    |value - median| > {MAD_K} * {MAD_SCALE} * MAD — the {MAD_K}-sigma rule
    under the normal-consistency scaling of the MAD.

    Scale shape: two exact-percentile aggregations over event_type (a
    tiny-domain key — the heavy lift is the per-group sort inside
    `percentile`, parallel across groups) and two BROADCAST joins back to
    the fact; the fact table itself is never shuffled on a high-cardinality
    key. Determinism: the >threshold compare runs on round-6 DECIMALs on
    both engines, so a last-ulp divergence in the interpolated median
    cannot flip a flag unless it crosses a 1e-6 grid line (and the
    three-SF oracle sweep would catch that)."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5D)").alias("mad")
    )
    thr = F.round(F.lit(MAD_K) * F.lit(MAD_SCALE) * F.col("mad"), 6).cast(
        "decimal(18,6)"
    )
    flagged = F.when(
        F.round(F.col("dev"), 6).cast("decimal(18,6)") > thr, 1
    ).otherwise(0)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(flagged).cast("bigint").alias("n_outliers"),
            F.round(F.min("med"), 6).cast("double").alias("med"),
            F.round(F.min("mad"), 6).cast("double").alias("mad"),
        )
    )


@register(
    "events_trailing_24h",
    oracle="""
WITH base AS (
  SELECT event_id, user_id, ts, value,
         -- floor, not a bare CAST: DuckDB epoch() is DOUBLE with the
         -- fractional second, and double->bigint CASTs ROUND — Spark's
         -- unix_timestamp truncates, so a .5+ fractional second shifted
         -- the frame boundary by one second (caught at sf0.1)
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
)
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_24h,
       CAST(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER w
                 AS DOUBLE) AS DOUBLE) AS sum_value_24h
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ep
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
""",
)
def events_trailing_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the capability ROWS frames can't express:
    for every event, the count and value-sum of the SAME user's events in
    the trailing 24 wall-clock hours (velocity / rate-limit / fraud
    features). The frame bound is event-time seconds (rangeBetween over
    epoch), so sparse and bursty users get correct windows without
    resampling; RANGE semantics include all equal-timestamp peers on both
    engines. The frame sum runs on the round-6 DECIMAL grid (window float
    sums are order-sensitive; exact decimals are not).

    Scale shape: one user-keyed exchange + per-partition ordered scan —
    identical physical shape to any running window; state is the sliding
    frame, bounded by a user's 24-hour event volume."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_id", "user_id", "ts", "value",
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-86400, 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("bigint").alias("n_24h"),
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_value_24h"),
    )


# ---------------------------------------------------------------------------
# half-life decayed activity (EWMA-style feature-store score)
# ---------------------------------------------------------------------------

_DECAY_LOOKBACK_DAYS = 14


@register(
    "events_halflife_decay",
    oracle=f"""
WITH buckets AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
)
SELECT b.user_id, b.day, any_value(b.x) AS x,
       CAST(sum(CAST(round(a.x * pow(0.5, date_diff('day', a.day, b.day)), 9)
                     AS DECIMAL(18,9))) AS DOUBLE) AS decayed
FROM buckets b
JOIN buckets a
  ON a.user_id = b.user_id
 AND a.day <= b.day
 AND a.day >= b.day - INTERVAL {_DECAY_LOOKBACK_DAYS} DAY
GROUP BY b.user_id, b.day
""",
)
def events_halflife_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed activity score: per (user, day), the sum of the
    user's daily event counts over a 14-day lookback, each weighted by
    0.5^(days ago) — the exponentially-decayed engagement feature every
    feature store derives from an event stream (recency-weighted activity;
    a 1-day half-life here so the decay is visible in a 30-day fixture).

    Scale shape: the event table reduces to per-(user, day) buckets FIRST
    (map-side combinable count — the only corpus-sized aggregation), so
    the decayed sum runs on the bucket table: a self-join bounded by the
    lookback interval, equi on user_id with the 14-day band as residual —
    at most 15 partner rows per bucket, never a windowed O(span²) or an
    unbounded range explosion; one user_id-keyed exchange feeds both
    sides. Exactness: 0.5^k is an exact power of two in IEEE double
    (pow is bit-exact in both engines on these args), each term rounds
    to 9 decimals, and the per-bucket sum is an exact DECIMAL(18,9) —
    partition-order independent."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    b = buckets.select(
        F.col("user_id").alias("b_uid"),
        F.col("day").alias("b_day"),
        F.col("x").alias("b_x"),
    )
    a = buckets.select(
        F.col("user_id").alias("a_uid"),
        F.col("day").alias("a_day"),
        F.col("x").alias("a_x"),
    )
    term = F.round(
        F.col("a_x") * F.pow(F.lit(0.5), F.datediff("b_day", "a_day")), 9
    ).cast("decimal(18,9)")
    return (
        b.join(
            a,
            (F.col("a_uid") == F.col("b_uid"))
            & (F.col("a_day") <= F.col("b_day"))
            & (
                F.col("a_day")
                >= F.col("b_day")
                - F.expr(f"INTERVAL {_DECAY_LOOKBACK_DAYS} DAYS")
            ),
        )
        .groupBy("b_uid", "b_day")
        .agg(
            F.any_value("b_x").alias("x"),
            F.sum(term).cast("double").alias("decayed"),
        )
        .select(
            F.col("b_uid").alias("user_id"),
            F.col("b_day").alias("day"),
            "x",
            "decayed",
        )
    )


# ---------------------------------------------------------------------------
# interval-union coverage (overlapping-interval merge, gaps-and-islands)
# ---------------------------------------------------------------------------

@register(
    "events_interval_coverage",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s,
         ts + INTERVAL (CAST(round(value * 60) AS BIGINT)) SECOND AS e
  FROM events WHERE CAST(round(value * 60) AS BIGINT) >= 1
),
marked AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e) AS island_id
  FROM marked
),
merged AS (
  SELECT user_id, island_id, min(s) AS s, max(e) AS e
  FROM islands GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(date_diff('second', s, e)) AS BIGINT) AS covered_seconds
FROM merged GROUP BY user_id
""",
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: treat each event as an activity interval
    [ts, ts + value minutes), merge overlapping (and abutting: s == prev
    end joins the island) intervals per user, and report per user how
    many disjoint activity islands remain and the total seconds covered —
    the utilization / watch-time primitive. Distinct from
    events_debounce_bursts (fixed-gap sessionization of POINT events):
    here every event carries its own variable-length DURATION, so islands
    are defined by actual interval overlap, not a gap parameter.

    Shape: the classic gaps-and-islands plan — a running max(end) over
    (user, start) marks island starts (an interval opens a new island iff
    it starts after everything before it has ended), a running sum of the
    marks numbers the islands, and one grouped pass merges each island.
    Scale: one shuffle on user_id serves both window passes AND the final
    two aggregations (same key, Exchange reuse); state per task is one
    running max — nothing corpus-sized. Skew bound: a user's partition is
    its event count, the same bound every per-user window in the suite
    carries. Exactness: interval ends are whole-second timestamps
    (round(value*60) is exact in both engines at these magnitudes) and
    covered_seconds is an integer sum — no floating point anywhere."""
    events = load_table(spark, sf_dir, "events")
    # >= 1 whole second, not value > 0: a duration that rounds to zero
    # would make an empty [s, s) interval that still counts as an island.
    iv = spread(
        events.where(F.round(F.col("value") * 60).cast("long") >= 1)
    ).select(
        "user_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND", F.round(F.col("value") * 60).cast("long"), F.col("ts")
        ).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max("e").over(w_prev)
    marked = iv.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.withColumn(
        "island_id", F.sum("new_island").over(w_run)
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(
            F.unix_timestamp("e") - F.unix_timestamp("s")
        ).cast("bigint").alias("covered_seconds"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection
# ---------------------------------------------------------------------------

@register(
    "events_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
series AS (
  SELECT event_type, day, x,
         sum(x) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
         sum(x) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
scored AS (
  SELECT event_type, day, n,
         abs(CAST(n AS DECIMAL(38,0)) * CAST(prefix AS DECIMAL(38,0))
             - CAST(i AS DECIMAL(38,0)) * CAST(total AS DECIMAL(38,0)))
           AS ns_abs
  FROM series
),
ranked AS (
  SELECT event_type, day, n, ns_abs,
         row_number() OVER (
           PARTITION BY event_type ORDER BY ns_abs DESC, day) AS rk
  FROM scored
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(day AS DATE) AS change_day,
       CAST(round(CAST(ns_abs AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)
            AS DOUBLE) AS cusum_stat
FROM ranked WHERE rk = 1
ORDER BY event_type
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event_type: build the daily value
    series, accumulate deviations from the series mean, and report the day
    where |S_i| = |sum_{j<=i}(x_j - mean)| peaks — the classic single
    change-point estimator (the monitoring primitive behind drift alarms).

    Determinism engineering: the mean is never materialized (decimal/BIGINT
    division isn't exact). Instead n*S_i = n*prefix_i - i*total is computed
    in scaled integer units (micro-units via round(value*1e6), the repo's
    money-sum pattern — explicit round() in BOTH engines, never a bare
    double->BIGINT cast, whose rounding direction differs between Spark and
    DuckDB), promoted to DECIMAL(38,0) for the products so nothing
    overflows, and only the final reported statistic divides back to a
    double. Peak ties break on earliest day — a total order.

    Shape: one hash agg on (event_type, day), then one event_type exchange
    serving ALL FOUR window functions, the argmax rank, and the final
    projection. 100 TB: the agg collapses to |types| x |days| rows before
    the ordered pass; per-type state is a single sort of its day count.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 1000000, 0).cast("bigint")).alias("x")
    )
    word = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    series = daily.select(
        "event_type",
        "day",
        F.sum("x").over(word).alias("prefix"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("day")
        ).alias("i"),
        F.sum("x").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    scored = series.select(
        "event_type",
        "day",
        "n",
        F.abs(
            d38("n") * d38("prefix") - d38("i") * d38("total")
        ).alias("ns_abs"),
    )
    ranked = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("ns_abs").desc(), F.col("day")
            )
        ),
    )
    return (
        ranked.where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("day").cast("date").alias("change_day"),
            F.round(
                F.col("ns_abs").cast("double")
                / F.col("n").cast("double")
                / 1000000.0,
                6,
            )
            .cast("double")
            .alias("cusum_stat"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# STL-lite seasonal decomposition (staged r6, introduced r7)
# ---------------------------------------------------------------------------

_STL_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         sum(CAST(round(value * 1000000) AS BIGINT)) AS v_u
  FROM events GROUP BY 1
),
trend AS (
  SELECT day, v_u,
         sum(v_u)  OVER w AS t7_u,
         count(*)  OVER w AS n7,
         date_diff('day', DATE '1970-01-01', day) % 7 AS dow
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full7 AS (SELECT * FROM trend WHERE n7 = 7),
seas AS (
  SELECT dow, sum(7 * v_u - t7_u) AS sd_u,
         CAST(count(*) AS BIGINT) AS n_dow
  FROM full7 GROUP BY dow
)
SELECT f.day,
       round(f.v_u / 1000000.0, 6) AS observed,
       round(f.t7_u / 7000000.0, 6) AS trend,
       round(s.sd_u / (7000000.0 * s.n_dow), 6) AS seasonal,
       round(round(f.v_u / 1000000.0, 6) - round(f.t7_u / 7000000.0, 6)
             - round(s.sd_u / (7000000.0 * s.n_dow), 6), 6) AS residual
FROM full7 f JOIN seas s USING (dow)
ORDER BY day
"""


@register("events_seasonal_decompose", oracle=_STL_SQL)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the daily event-value series:
    trend = centered 7-day moving average, weekly seasonal = per-weekday
    mean deviation from trend, residual = observed − trend − seasonal —
    the classical-decomposition core of STL without the loess smoothing
    passes (which need iterative local regression; the averaging form is
    the one that states as two window frames + one tiny-key aggregate).

    Determinism engineering: the daily series is micro-unit integers
    (round(value·1e6) summed as BIGINT — exact, order-free), the 7-day
    trend window is an exact integer sum, and the per-weekday seasonal
    numerator 7·v−t7 stays integer; every double is a final quotient
    rounded to 6 identically in both engines. Weekday comes from
    epoch-day mod 7 (NOT dayofweek(): Spark counts Sunday=1, DuckDB
    Sunday=0 — the epoch arithmetic is engine-free). Edge rows without a
    full 7-day window are excluded by the count(*)-over guard, not by
    assuming calendar density.

    Scale shape: the daily collapse is the only data-sized shuffle
    (map-side combinable); the trend window orders ~365·years rows per
    series — driver-scale, not data-scale; the seasonal join is a 7-row
    broadcast. For per-entity decomposition the same plan partitions
    every window and aggregate by the entity key — nothing in the shape
    changes."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias("v_u")
        )
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    trend = daily.select(
        "day",
        "v_u",
        F.sum("v_u").over(w7).alias("t7_u"),
        F.count("*").over(w7).alias("n7"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7).alias(
            "dow"
        ),
    )
    full7 = trend.where(F.col("n7") == 7)
    seas = full7.groupBy("dow").agg(
        F.sum(F.lit(7) * F.col("v_u") - F.col("t7_u")).alias("sd_u"),
        F.count("*").cast("bigint").alias("n_dow"),
    )
    observed = F.round(F.col("v_u") / 1_000_000.0, 6)
    trend_d = F.round(F.col("t7_u") / 7_000_000.0, 6)
    seasonal = F.round(F.col("sd_u") / (7_000_000.0 * F.col("n_dow")), 6)
    return (
        full7.join(F.broadcast(seas), "dow")
        .select(
            "day",
            observed.alias("observed"),
            trend_d.alias("trend"),
            seasonal.alias("seasonal"),
            F.round(observed - trend_d - seasonal, 6).alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# autocorrelation function of the daily series at lags 1..7
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_SQL = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS t,
         count(*) AS x
  FROM events GROUP BY 1
),
st AS (SELECT count(*) AS n, sum(x) AS s FROM daily),
den AS (
  SELECT sum(CAST(st.n * d.x - st.s AS HUGEINT)
             * CAST(st.n * d.x - st.s AS HUGEINT)) AS den_u
  FROM daily d, st
),
lags AS (
  SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS l(k)
),
num AS (
  SELECT l.k, count(*) AS pairs,
         sum(CAST(st.n * a.x - st.s AS HUGEINT)
             * CAST(st.n * b.x - st.s AS HUGEINT)) AS num_u
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.t = a.t + l.k
  CROSS JOIN st
  GROUP BY l.k
)
SELECT CAST(num.k AS BIGINT) AS lag,
       CAST(num.pairs AS BIGINT) AS pairs,
       CASE WHEN den.den_u > 0 THEN
         CAST(num.num_u AS DOUBLE) / CAST(den.den_u AS DOUBLE)
       END AS acf
FROM num, den
ORDER BY lag
"""


@register("events_acf_lags", oracle=_ACF_SQL)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at
    calendar lags 1..7 (built r9, staged r10) — the seasonality PROBE
    that tells a pipeline whether events_seasonal_decompose's weekly
    model is even warranted (a weekly cycle shows as an acf peak at
    lag 7). r_k = sum_t (x_t - mu)(x_t+k - mu) / sum_t (x_t - mu)^2 is
    kept exact by multiplying through by n^2: every deviation is the
    INTEGER n*x_t - S, products/sums ride 128-bit integers (HUGEINT in
    DuckDB, DECIMAL(38,0) in Spark), and each r_k is ONE double
    division at the end. Calendar-lagged: a pair exists only when both
    day t and day t+k are present; all-constant series yield NULL acf
    (den = 0), lags with no pairs are absent rather than 0/0.

    Scale shape: one day-keyed count aggregate (map-side combinable;
    the only data-sized pass), then self-joins on the bounded
    day-level table (n days * 7 lags rows) with the 1-row stats
    broadcast. 10x data means 10x counts per day, not more days, so
    everything after the first aggregate is constant-size."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("t")
    ).agg(F.count("*").alias("x"))
    st = daily.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    # (18,0)*(18,0) -> decimal(37,0): stays inside Spark's 38-digit cap
    # with no precision-loss path; the deviations themselves fit 18
    # digits at any plausible day count x per-day volume
    dev = lambda x: (F.col("n") * x - F.col("s")).cast("decimal(18,0)")
    den = daily.crossJoin(F.broadcast(st)).agg(
        F.sum(dev(F.col("x")) * dev(F.col("x"))).alias("den_u")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = daily.alias("a")
    b = daily.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.t") == F.col("a.t") + F.col("k"))
        .crossJoin(F.broadcast(st))
        .groupBy("k")
        .agg(
            F.count("*").alias("pairs"),
            F.sum(dev(F.col("a.x")) * dev(F.col("b.x"))).alias("num_u"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("pairs").cast("long").alias("pairs"),
            F.when(
                F.col("den_u") > 0,
                F.col("num_u").cast("double") / F.col("den_u").cast("double"),
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen robust slope on the daily series
# ---------------------------------------------------------------------------

_MK_Z_CRIT = 1.96

_MANN_KENDALL_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS t,
         count(*) AS x
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.t AS ti, b.t AS tj, a.x AS xi, b.x AS xj,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
         CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS slope
  FROM daily a JOIN daily b ON b.t > a.t
),
s AS (SELECT count(*) AS n_pairs, sum(sgn) AS s FROM pairs),
nn AS (SELECT count(*) AS n FROM daily),
ties AS (
  SELECT coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS tie_mass
  FROM (SELECT x, count(*) AS c FROM daily GROUP BY x) WHERE c > 1
),
var_s AS (
  SELECT (nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_mass) AS v18
  FROM nn, ties
),
med AS (
  SELECT slope
  FROM (
    SELECT slope,
           row_number() OVER (ORDER BY slope, ti, tj) AS r,
           count(*) OVER () AS m
    FROM pairs WHERE sgn <> 0
  ) WHERE r = (m + 1) // 2
)
SELECT CAST(nn.n AS BIGINT) AS n_days,
       CAST(s.s AS BIGINT) AS s,
       CASE WHEN var_s.v18 > 0 THEN
         CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(var_s.v18 / 18.0)
              WHEN s.s < 0 THEN (s.s + 1) / sqrt(var_s.v18 / 18.0)
              ELSE 0.0 END
       END AS z,
       CASE WHEN var_s.v18 > 0 THEN
         abs(CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(var_s.v18 / 18.0)
                  WHEN s.s < 0 THEN (s.s + 1) / sqrt(var_s.v18 / 18.0)
                  ELSE 0.0 END) > 1.96
       END AS significant,
       (SELECT slope FROM med) AS theil_sen_slope
FROM nn, s, var_s
"""


@register("events_mann_kendall_trend", oracle=_MANN_KENDALL_SQL)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test + Theil-Sen robust slope over
    the daily event-count series (built r9, staged r10) — the
    distribution-free "is traffic drifting?" monitor that pairs with
    events_acf_lags (seasonality) and events_cusum_changepoint (level
    shifts): S = sum of pairwise sign(x_j - x_i) over ordered day
    pairs is an exact integer, its tie-corrected variance
    (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18 stays integer until ONE
    sqrt of /18.0, and the continuity-corrected z uses the same
    operator order in both engines. The Theil-Sen slope is the LOWER
    MEDIAN of the nonzero pairwise slopes, picked by deterministic
    rank (slope, then day pair) rather than an engine-specific
    percentile function. All-tied series yield NULL z/significant;
    the slope row is absent only when every pair ties.

    Scale shape: one day-keyed count (the only data-sized, map-side
    combinable pass); the pairwise grid is n_days^2 on the BOUNDED
    day-level table (30 days -> 435 pairs at any data scale), the
    rank window runs over those pairs only."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("t")
    ).agg(F.count("*").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.t") > F.col("a.t")).select(
        F.col("a.t").alias("ti"),
        F.col("b.t").alias("tj"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
    )
    s = pairs.agg(F.sum("sgn").alias("s"))
    nn = daily.agg(F.count("*").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)),
                F.lit(0),
            ).alias("tie_mass")
        )
    )
    nonzero = pairs.filter(F.col("sgn") != 0)
    ranked = nonzero.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "ti", "tj")).alias("r"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    # aggregate the single median row so an all-tied (or empty) pair set
    # still yields ONE readout row with a NULL slope, matching the SQL
    # scalar subquery's empty->NULL convention
    med = (
        ranked.filter(F.col("r") == F.floor((F.col("m") + 1) / 2))
        .agg(F.min("slope").alias("theil_sen_slope"))
    )
    sc, n = F.col("s"), F.col("n")
    v18 = n * (n - 1) * (2 * n + 5) - F.col("tie_mass")
    z = (
        F.when(sc > 0, (sc - 1) / F.sqrt(v18 / F.lit(18.0)))
        .when(sc < 0, (sc + 1) / F.sqrt(v18 / F.lit(18.0)))
        .otherwise(F.lit(0.0))
    )
    return (
        nn.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(med))
        .select(
            n.cast("long").alias("n_days"),
            sc.cast("long").alias("s"),
            F.when(v18 > 0, z).alias("z"),
            F.when(v18 > 0, F.abs(z) > _MK_Z_CRIT).alias("significant"),
            "theil_sen_slope",
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive triple exponential smoothing (unrolled in-row fold)
# ---------------------------------------------------------------------------

_HW_M = 7  # weekly season

_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day,
         row_number() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS t_idx,
         x
  FROM (SELECT CAST(ts AS DATE) AS ts, count(*) AS x
        FROM events GROUP BY 1)
),
n AS (SELECT count(*) AS n FROM daily),
ab AS (
  SELECT
    CAST(round(sum(CASE WHEN t_idx < {_HW_M} THEN x END)
         / CAST({_HW_M} AS DECIMAL(18,6)), 6) AS DECIMAL(28,6)) AS a1,
    CAST(round(sum(CASE WHEN t_idx >= {_HW_M} AND t_idx < {2 * _HW_M}
                   THEN x END)
         / CAST({_HW_M} AS DECIMAL(18,6)), 6) AS DECIMAL(28,6)) AS a2
  FROM daily
),
init AS (
  SELECT ab.a1, ab.a2,
         list(CAST(round(d.x - ab.a1, 6) AS DECIMAL(28,6))
              ORDER BY d.t_idx) AS s0
  FROM daily d, ab WHERE d.t_idx < {_HW_M}
  GROUP BY ab.a1, ab.a2
),
rec AS (
  SELECT {_HW_M} AS t, init.a1 AS lv,
         CAST(round((init.a2 - init.a1)
              / CAST({_HW_M} AS DECIMAL(18,6)), 6) AS DECIMAL(28,6)) AS b,
         init.s0 AS s,
         CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS x,
         CAST(NULL AS DECIMAL(28,6)) AS fitted
  FROM init, n WHERE n.n >= {2 * _HW_M}
  UNION ALL
  SELECT t + 1, lvp,
         CAST(round(CAST(0.1 AS DECIMAL(18,6)) * (lvp - lv)
              + CAST(0.9 AS DECIMAL(18,6)) * b, 6) AS DECIMAL(28,6)),
         list_append(s[2:],
           CAST(round(CAST(0.2 AS DECIMAL(18,6)) * (xx - lvp)
                + CAST(0.8 AS DECIMAL(18,6)) * s[1], 6) AS DECIMAL(28,6))),
         dday, xx, f
  FROM (
    SELECT r.t, r.s, r.lv, r.b, d.day AS dday, d.x AS xx,
           CAST(round(r.lv + r.b + r.s[1], 6) AS DECIMAL(28,6)) AS f,
           CAST(round(CAST(0.3 AS DECIMAL(18,6)) * (d.x - r.s[1])
                + CAST(0.7 AS DECIMAL(18,6)) * (r.lv + r.b), 6)
                AS DECIMAL(28,6)) AS lvp
    FROM rec r JOIN daily d ON d.t_idx = r.t
  ) q
)
SELECT day, x,
       CAST(fitted AS DOUBLE) AS fitted,
       CAST(CAST(round(x - fitted, 6) AS DECIMAL(28,6)) AS DOUBLE)
         AS residual
FROM rec WHERE x IS NOT NULL
"""


@register("events_holt_winters", oracle=_HOLT_WINTERS_SQL)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing over the
    daily event-count series, weekly season m=7 (built r9, staged
    r10) — the FORECASTING member of the time-series family
    (seasonal_decompose explains, acf detects, mann_kendall tests;
    this one predicts): textbook init (level = first-week mean, trend
    = week-over-week mean shift /7, seasonals = first-week deviations)
    then the coupled level/trend/seasonal recursion with
    alpha/beta/gamma = 0.3/0.1/0.2, emitting the one-step-ahead fit
    and residual per day. Series shorter than 2 seasons yield no rows.

    Determinism engineering: the state recursion runs in EXACT decimal
    arithmetic pinned to the 6dp grid with HALF-UP rounding after
    every update — Python's decimal module on the Spark side, DECIMAL
    columns inside a DuckDB RECURSIVE CTE on the oracle side. A plain
    double formulation was measured to diverge at step 15 of the first
    fixture tried (a true half-boundary at 1e-6: banker's vs
    half-away rounding), which is exactly the class of bug the exact
    grid eliminates; the decimal trajectory was fuzz-verified over 30
    random series before staging.

    Scale shape: one day-keyed count (map-side combinable; the only
    data-sized pass); the smoothing fold runs over the BOUNDED
    day-level series (~30 rows at any data scale) as a single
    applyInPandas group — constant-size by the events fixture's
    calendar, documented as such."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))

    schema = "day date, x long, fitted double, residual double"

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        m = _HW_M
        q = Decimal("0.000001")

        def r6(v):
            return v.quantize(q, rounding=ROUND_HALF_UP)

        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [Decimal(int(v)) for v in pdf["x"]]
        if len(xs) < 2 * m:
            return pd.DataFrame(
                columns=["day", "x", "fitted", "residual"]
            ).astype(
                {"day": "object", "x": "int64",
                 "fitted": "float64", "residual": "float64"}
            )
        alpha, beta, gamma = (
            Decimal("0.3"), Decimal("0.1"), Decimal("0.2"),
        )
        a1 = r6(sum(xs[:m]) / m)
        a2 = r6(sum(xs[m : 2 * m]) / m)
        lv, b = a1, r6((a2 - a1) / m)
        s = [r6(x - a1) for x in xs[:m]]
        rows = []
        for t in range(m, len(xs)):
            fitted = r6(lv + b + s[0])
            lvp = r6(alpha * (xs[t] - s[0]) + (1 - alpha) * (lv + b))
            bp = r6(beta * (lvp - lv) + (1 - beta) * b)
            st = r6(gamma * (xs[t] - lvp) + (1 - gamma) * s[0])
            s = s[1:] + [st]
            lv, b = lvp, bp
            rows.append(
                (
                    pdf["day"][t], int(xs[t]),
                    float(fitted), float(r6(xs[t] - fitted)),
                )
            )
        return pd.DataFrame(
            rows, columns=["day", "x", "fitted", "residual"]
        )

    return (
        daily.groupBy(F.lit(1).alias("g"))
        .applyInPandas(lambda _key, pdf: fold(pdf), schema)
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator (time to first purchase, right-censored)
# ---------------------------------------------------------------------------

def _surv_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, c_t, d_t, n_t): the survival risk grid — time-to-first-
    purchase durations with right censoring at the global observation
    end, reduced to per-duration departure counts c_t, event counts
    d_t, and at-risk sets n_t (complement cumulative — no per-user
    window). Shared by the Kaplan-Meier product-limit estimator and
    the Nelson-Aalen cumulative hazard (r12); the SQL twin is
    _SURV_RISK_CTES."""
    events = load_table(spark, sf_dir, "events")
    obs_end = events.agg(F.max("ts").cast("date").alias("end_day"))
    per_user = events.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).cast("date").alias("conv"),
    )
    is_event = F.col("conv").isNotNull() & (F.col("conv") >= F.col("entry"))
    dur = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.when(is_event, F.datediff("conv", "entry"))
        .otherwise(F.datediff("end_day", "entry"))
        .alias("t"),
        is_event.alias("is_event"),
    )
    grid = dur.groupBy("t").agg(
        F.count("*").alias("c_t"),
        F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("d_t"),
    )
    total = dur.agg(F.count("*").alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return grid.crossJoin(F.broadcast(total)).select(
        "t", "c_t", "d_t",
        (
            F.col("n_total")
            - F.coalesce(F.sum("c_t").over(wprev), F.lit(0))
        ).alias("n_t"),
    )


# shared survival risk-grid CTEs (time-to-first-purchase durations with
# right censoring -> per-duration (t, c_t, d_t, n_t)) — consumed by the
# Kaplan-Meier product-limit oracle AND the Nelson-Aalen cumulative-
# hazard oracle (r12), exactly as the Spark side shares _surv_risk
_SURV_RISK_CTES = """obs_end AS (SELECT CAST(max(ts) AS DATE) AS end_day FROM events),
per_user AS (
  SELECT user_id,
         CAST(min(ts) AS DATE) AS entry,
         CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
              AS DATE) AS conv
  FROM events GROUP BY user_id
),
dur AS (
  SELECT u.user_id,
         CASE WHEN u.conv IS NOT NULL AND u.conv >= u.entry
              THEN date_diff('day', u.entry, u.conv)
              ELSE date_diff('day', u.entry, o.end_day) END AS t,
         (u.conv IS NOT NULL AND u.conv >= u.entry) AS is_event
  FROM per_user u, obs_end o
),
grid AS (
  SELECT t,
         count(*) AS c_t,
         sum(CASE WHEN is_event THEN 1 ELSE 0 END) AS d_t
  FROM dur GROUP BY t
),
risk AS (
  SELECT t, c_t, d_t,
         (SELECT count(*) FROM dur)
           - coalesce(sum(c_t) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_t
  FROM grid
)"""

_KM_SQL = f"""
WITH {_SURV_RISK_CTES},
terms AS (
  SELECT t, n_t, d_t,
         CASE WHEN d_t > 0 AND n_t > d_t THEN
           CAST(round(CAST(n_t - d_t AS DOUBLE) / n_t, 9)
                AS DECIMAL(18,9))
         ELSE CAST(1 AS DECIMAL(18,9)) END AS factor,
         CASE WHEN d_t > 0 AND n_t = d_t THEN 1 ELSE 0 END AS hit_zero
  FROM risk
),
cum AS (
  SELECT t, n_t, d_t,
         list(factor) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs,
         max(hit_zero) OVER (ORDER BY t) AS zeroed
  FROM terms
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_t AS BIGINT) AS d_events,
       CASE WHEN zeroed = 1 THEN 0.0
            ELSE CAST(list_reduce(
                   list_prepend(CAST(1 AS DECIMAL(18,9)), fs),
                   (acc, x) -> CAST(round(acc * x, 9) AS DECIMAL(18,9)))
                 AS DOUBLE) END AS survival
FROM cum WHERE d_t > 0
"""


@register("events_kaplan_meier", oracle=_KM_SQL)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over time-to-first-purchase with
    right censoring (built r9 session 3, staged r10) — the
    retention-analytics member of the events family: each user enters
    at their first event; the duration is days to first purchase
    (event) or to the global observation end (censored); the KM curve
    S(t) = prod_{s<=t} (1 - d_s/n_s) steps only at event times. The
    product is an EXACT DECIMAL FOLD: each factor rounds to the 9dp
    grid (one double division, bit-identical), the cumulative window
    collects the bounded factor list in t-order, and both engines fold
    it with round-9 decimal multiplication (F.aggregate /
    list_reduce) — no transcendental anywhere. An exp(sum(round(ln)))
    draft mismatched at the last ulp (JVM Math.exp vs libm exp), which
    is exactly why the product form was chosen. A time where the whole
    risk set converts pins S to exactly 0 from there on (the zeroed
    flag). Risk sets come from the complement cumulative
    (N - #departed-before-t), so no per-user window exists.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), a duration-keyed count (bounded by the calendar), and a
    value-level cumulative window over ~30 rows at any data scale."""
    risk = _surv_risk(spark, sf_dir)
    n_t, d_t = F.col("n_t"), F.col("d_t")
    terms = risk.select(
        "t", "n_t", "d_t",
        F.when(
            (d_t > 0) & (n_t > d_t),
            F.round((n_t - d_t).cast("double") / n_t, 9),
        ).otherwise(F.lit(1)).cast("decimal(18,9)").alias("factor"),
        F.when((d_t > 0) & (n_t == d_t), 1).otherwise(0).alias("hit_zero"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = terms.select(
        "t", "n_t", "d_t",
        F.collect_list("factor").over(wcum).alias("fs"),
        F.max("hit_zero").over(wcum).alias("zeroed"),
    )
    one = F.lit(1).cast("decimal(18,9)")
    prod = F.aggregate(
        F.col("fs"), one,
        lambda acc, x: F.round(acc * x, 9).cast("decimal(18,9)"),
    )
    return cum.filter(F.col("d_t") > 0).select(
        F.col("t").cast("long").alias("t_days"),
        n_t.cast("long").alias("n_at_risk"),
        d_t.cast("long").alias("d_events"),
        F.when(F.col("zeroed") == 1, F.lit(0.0))
        .otherwise(prod.cast("double"))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (built r12, staged r13)
# ---------------------------------------------------------------------------

_NA_SQL = f"""
WITH {_SURV_RISK_CTES},
terms AS (
  SELECT t, n_t, d_t,
         CAST(round(CAST(d_t AS DOUBLE) / n_t, 9)
              AS DECIMAL(18,9)) AS hazard
  FROM risk
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_t AS BIGINT) AS d_events,
       hazard,
       CAST(sum(hazard) OVER (ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DECIMAL(28,9)) AS cum_hazard
FROM terms WHERE d_t > 0
"""


@register("events_nelson_aalen", oracle=_NA_SQL)
def events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the SAME right-censored
    time-to-first-purchase risk grid as events_kaplan_meier (built
    r12, staged r13): H(t) = sum over s<=t of d_s/n_s — the additive dual
    of KM's product limit, preferred when hazard INCREMENTS are the
    monitored quantity (a step-up in d/n flags a conversion-rate
    regime change at that duration). Exactness is STRICTLY simpler
    than KM's: each increment is one double division rounded to the
    9dp decimal grid (KM's factor device), and the cumulative is an
    EXACT DECIMAL WINDOW SUM — no fold, no transcendental (the
    exp(-H) survival transform is deliberately not emitted: exp is
    the measured-unsafe transcendental, and KM already states the
    survival curve). Shares _surv_risk / _SURV_RISK_CTES with KM —
    the consumer-of-changed-code rule puts events_kaplan_meier in the
    next head spine.

    Scale shape: identical to KM — one user-keyed aggregate, a
    calendar-bounded duration grid, and a value-level window over
    ~30 rows at any data scale."""
    risk = _surv_risk(spark, sf_dir)
    n_t, d_t = F.col("n_t"), F.col("d_t")
    terms = risk.select(
        "t", "n_t", "d_t",
        F.round(d_t.cast("double") / n_t, 9)
        .cast("decimal(18,9)")
        .alias("hazard"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.where(d_t > 0).select(
        F.col("t").cast("long").alias("t_days"),
        n_t.cast("long").alias("n_at_risk"),
        d_t.cast("long").alias("d_events"),
        "hazard",
        F.sum("hazard").over(wcum).cast("decimal(28,9)").alias("cum_hazard"),
    )


# ---------------------------------------------------------------------------
# Two-group log-rank test (built r12, staged r13)
# ---------------------------------------------------------------------------

_LOGRANK_SQL = """
WITH obs_end AS (SELECT CAST(max(ts) AS DATE) AS end_day FROM events),
per_user AS (
  SELECT user_id % 2 AS variant,
         CAST(min(ts) AS DATE) AS entry,
         CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
              AS DATE) AS conv
  FROM events GROUP BY user_id
),
dur AS (
  SELECT u.variant,
         CASE WHEN u.conv IS NOT NULL AND u.conv >= u.entry
              THEN date_diff('day', u.entry, u.conv)
              ELSE date_diff('day', u.entry, o.end_day) END AS t,
         (u.conv IS NOT NULL AND u.conv >= u.entry) AS is_event
  FROM per_user u, obs_end o
),
grid AS (
  SELECT t,
         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS c_a,
         sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS c_b,
         sum(CASE WHEN variant = 0 AND is_event THEN 1 ELSE 0 END) AS d_a,
         sum(CASE WHEN variant = 1 AND is_event THEN 1 ELSE 0 END) AS d_b
  FROM dur GROUP BY t
),
tot AS (
  SELECT CAST(coalesce(sum(c_a), 0) AS BIGINT) AS na_tot,
         CAST(coalesce(sum(c_b), 0) AS BIGINT) AS nb_tot
  FROM grid
),
risk AS (
  SELECT t, d_a, d_b,
         (SELECT na_tot FROM tot)
           - coalesce(sum(c_a) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_a,
         (SELECT nb_tot FROM tot)
           - coalesce(sum(c_b) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_b
  FROM grid
),
terms AS (
  SELECT d_a, n_a, n_b, d_a + d_b AS d, n_a + n_b AS n
  FROM risk WHERE d_a + d_b > 0
),
pinned AS (
  SELECT d_a,
         CAST(round(CAST(d * n_a AS DOUBLE) / n, 9)
              AS DECIMAL(18,9)) AS e_t,
         CASE WHEN n > 1 THEN
           CAST(round(CAST(d * n_a AS DOUBLE) / n * n_b / n
                      * (n - d) / (n - 1), 9) AS DECIMAL(18,9))
         ELSE CAST(0 AS DECIMAL(18,9)) END AS v_t
  FROM terms
),
agg AS (
  SELECT CAST(coalesce(sum(d_a), 0) AS BIGINT) AS observed_a,
         CAST(coalesce(sum(e_t), 0) AS DECIMAL(28,9)) AS expected_a,
         CAST(coalesce(sum(v_t), 0) AS DECIMAL(28,9)) AS variance_sum
  FROM pinned
)
SELECT t.na_tot AS n_users_a, t.nb_tot AS n_users_b,
       a.observed_a, a.expected_a, a.variance_sum,
       CASE WHEN a.variance_sum > 0 THEN
         (CAST(a.observed_a AS DOUBLE) - CAST(a.expected_a AS DOUBLE))
         / sqrt(CAST(a.variance_sum AS DOUBLE))
       END AS z,
       CASE WHEN a.variance_sum > 0 THEN
         abs((CAST(a.observed_a AS DOUBLE) - CAST(a.expected_a AS DOUBLE))
             / sqrt(CAST(a.variance_sum AS DOUBLE))) > 1.96
       END AS significant
FROM tot t, agg a
"""


@register("events_logrank_test", oracle=_LOGRANK_SQL)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank (Mantel-Cox) test over the right-censored
    time-to-first-purchase durations (built r12, staged r13) — the
    hypothesis-test closure of the survival family: events_kaplan_meier
    DRAWS the two curves' common machinery, events_nelson_aalen states
    the hazard, and the log-rank test answers the question an analyst
    actually runs an A/B for — do the even/odd user-id cohorts (the
    repo's standing variant split, events_mannwhitney_ab) convert at
    the same rate over time? At each combined event time t:
    E_a(t) = d_t * n_a(t)/n_t and the hypergeometric variance
    V(t) = d_t * (n_a/n) * (n_b/n) * (n-d)/(n-1); the statistic is
    z = (O_a - E_a)/sqrt(sum V), chi-square = z^2 at 1 df.

    Exactness: per-group at-risk sets come from the complement
    cumulative over the shared duration grid (KM's device — no
    per-user window), so d, n_a, n_b, n are exact integers at every
    event time; E and V pin to the 9dp decimal grid per time (products
    of <=N^2 integers stay exact in the double mantissa at any bench
    tier; the expression SHAPE is identical in both engines, so the
    pre-round doubles are bit-identical); the cross-row sums are exact
    decimal additions; z is the audited FIXED-SHAPE double readout of
    two exact aggregates (one subtraction, one IEEE-exact sqrt, one
    division — the mannwhitney/welch device). Degenerate inputs
    (no events, one-sided cohort) yield variance_sum = 0 and NULL z.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), one calendar-bounded duration-grid count, a <=~400-row
    window, and a 1-row broadcast readout — nothing row-scaled past
    the first reduce. At 100 TB the duration grid is still bounded by
    observed distinct day-counts, and the d*n_a products would move to
    the DECIMAL(38,0) lattice (the kruskal device) once cohorts pass
    ~9e15 users — noted, not needed, at any realistic N."""
    events = load_table(spark, sf_dir, "events")
    obs_end = events.agg(F.max("ts").cast("date").alias("end_day"))
    per_user = events.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).cast("date").alias("conv"),
    ).select((F.col("user_id") % 2).alias("variant"), "entry", "conv")
    is_event = F.col("conv").isNotNull() & (F.col("conv") >= F.col("entry"))
    dur = per_user.crossJoin(F.broadcast(obs_end)).select(
        "variant",
        F.when(is_event, F.datediff("conv", "entry"))
        .otherwise(F.datediff("end_day", "entry"))
        .alias("t"),
        is_event.alias("is_event"),
    )
    va, vb = F.col("variant") == 0, F.col("variant") == 1
    ev = F.col("is_event")
    grid = dur.groupBy("t").agg(
        F.sum(F.when(va, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(vb, 1).otherwise(0)).alias("c_b"),
        F.sum(F.when(va & ev, 1).otherwise(0)).alias("d_a"),
        F.sum(F.when(vb & ev, 1).otherwise(0)).alias("d_b"),
    )
    tot = grid.groupBy().agg(
        F.coalesce(F.sum("c_a"), F.lit(0)).cast("long").alias("na_tot"),
        F.coalesce(F.sum("c_b"), F.lit(0)).cast("long").alias("nb_tot"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t", "d_a", "d_b",
        (
            F.col("na_tot")
            - F.coalesce(F.sum("c_a").over(wprev), F.lit(0))
        ).alias("n_a"),
        (
            F.col("nb_tot")
            - F.coalesce(F.sum("c_b").over(wprev), F.lit(0))
        ).alias("n_b"),
    )
    terms = risk.where((F.col("d_a") + F.col("d_b")) > 0).select(
        "d_a", "n_a", "n_b",
        (F.col("d_a") + F.col("d_b")).alias("d"),
        (F.col("n_a") + F.col("n_b")).alias("n"),
    )
    d, n = F.col("d"), F.col("n")
    na_, nb_ = F.col("n_a"), F.col("n_b")
    e_t = F.round((d * na_).cast("double") / n, 9).cast("decimal(18,9)")
    v_t = F.when(
        n > 1,
        F.round(
            (d * na_).cast("double") / n * nb_ / n * (n - d) / (n - 1), 9
        ).cast("decimal(18,9)"),
    ).otherwise(F.lit(0).cast("decimal(18,9)"))
    pinned = terms.select("d_a", e_t.alias("e_t"), v_t.alias("v_t"))
    agg = pinned.groupBy().agg(
        F.coalesce(F.sum("d_a"), F.lit(0))
        .cast("long").alias("observed_a"),
        F.coalesce(F.sum("e_t"), F.lit(0))
        .cast("decimal(28,9)").alias("expected_a"),
        F.coalesce(F.sum("v_t"), F.lit(0))
        .cast("decimal(28,9)").alias("variance_sum"),
    )
    out = tot.crossJoin(F.broadcast(agg))
    vs = F.col("variance_sum")
    z = (
        F.col("observed_a").cast("double")
        - F.col("expected_a").cast("double")
    ) / F.sqrt(vs.cast("double"))
    return out.select(
        F.col("na_tot").alias("n_users_a"),
        F.col("nb_tot").alias("n_users_b"),
        "observed_a", "expected_a", "variance_sum",
        F.when(vs > 0, z).alias("z"),
        F.when(vs > 0, F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Restricted mean survival time (built r12, staged r13)
# ---------------------------------------------------------------------------

_RMST_SQL = f"""
WITH {_SURV_RISK_CTES},
terms AS (
  SELECT t, n_t, d_t,
         CASE WHEN d_t > 0 AND n_t > d_t THEN
           CAST(round(CAST(n_t - d_t AS DOUBLE) / n_t, 9)
                AS DECIMAL(18,9))
         WHEN d_t > 0 AND n_t = d_t THEN CAST(0 AS DECIMAL(18,9))
         ELSE CAST(1 AS DECIMAL(18,9)) END AS factor
  FROM risk
),
surv AS (
  SELECT t, n_t, d_t,
         list_reduce(
           list_prepend(
             CAST(1 AS DECIMAL(18,9)),
             list(factor) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           (acc, x) -> CAST(round(acc * x, 9) AS DECIMAL(18,9))) AS s
  FROM terms
),
seg AS (
  SELECT t, n_t, d_t, s,
         CAST(coalesce(lag(s) OVER (ORDER BY t),
                       CAST(1 AS DECIMAL(18,9)))
              * (t - coalesce(lag(t) OVER (ORDER BY t), 0))
              AS DECIMAL(28,9)) AS seg
  FROM surv
),
cum AS (
  SELECT t, n_t, d_t, s,
         sum(seg) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rmst
  FROM seg
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_t AS BIGINT) AS d_events,
       CAST(s AS DOUBLE) AS survival,
       CAST(rmst AS DECIMAL(28,9)) AS rmst
FROM cum WHERE d_t > 0
"""


@register("events_rmst", oracle=_RMST_SQL)
def events_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (built r12, staged r13) — the
    EFFECT-SIZE closure of the survival family over the SAME
    right-censored time-to-first-purchase risk grid: KM draws the
    curve, Nelson-Aalen states the hazard, log-rank tests the
    difference, and RMST(tau) = integral of S(t) on [0, tau] states
    the answer in DAYS — 'expected conversion-free days within the
    first tau days', the quantity a clinical or retention readout
    actually reports (and the recommended summary when hazards are
    non-proportional and log-rank's power argument breaks). Emitted
    per event time: rmst at t_i is the area under the KM step curve
    up to t_i, so the last row is RMST at the end of follow-up and
    interior rows give the whole tau-sweep for free.

    Exactness: S is the KM 9dp decimal product fold VERBATIM (one
    rounded double division per factor, decimal multiply fold — the
    n_t = d_t whole-risk-set conversion pins factor, hence S and all
    later areas, to exact decimal 0); each area segment is the exact
    decimal product lag(S) x (t - lag(t)) — integer day widths, so
    splitting segments at censor times telescopes EXACTLY — and rmst
    is an exact DECIMAL(28,9) window sum (the Nelson-Aalen
    cum_hazard device). No transcendental, no unrounded double.

    Scale shape: identical to KM/NA — one user-keyed aggregate (the
    only data-sized shuffle), a calendar-bounded duration grid, and
    value-level windows over ~30 rows at any data scale."""
    risk = _surv_risk(spark, sf_dir)
    n_t, d_t = F.col("n_t"), F.col("d_t")
    terms = risk.select(
        "t", "n_t", "d_t",
        F.when(
            (d_t > 0) & (n_t > d_t),
            F.round((n_t - d_t).cast("double") / n_t, 9),
        )
        .when((d_t > 0) & (n_t == d_t), F.lit(0))
        .otherwise(F.lit(1))
        .cast("decimal(18,9)")
        .alias("factor"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlag = Window.orderBy("t")
    one = F.lit(1).cast("decimal(18,9)")
    surv = terms.select(
        "t", "n_t", "d_t",
        F.aggregate(
            F.collect_list("factor").over(wcum), one,
            lambda acc, x: F.round(acc * x, 9).cast("decimal(18,9)"),
        ).alias("s"),
    )
    seg = surv.select(
        "t", "n_t", "d_t", "s",
        (
            F.coalesce(F.lag("s").over(wlag), one)
            * (F.col("t") - F.coalesce(F.lag("t").over(wlag), F.lit(0)))
        )
        .cast("decimal(28,9)")
        .alias("seg"),
    )
    cum = seg.select(
        "t", "n_t", "d_t", "s",
        F.sum("seg").over(wcum).alias("rmst"),
    )
    return cum.where(d_t > 0).select(
        F.col("t").cast("long").alias("t_days"),
        n_t.cast("long").alias("n_at_risk"),
        d_t.cast("long").alias("d_events"),
        F.col("s").cast("double").alias("survival"),
        F.col("rmst").cast("decimal(28,9)").alias("rmst"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley drift detector over the daily mean-value series
# ---------------------------------------------------------------------------

_PH_DELTA = "0.5"   # magnitude tolerance (value scale ~50)
_PH_LAMBDA = "5.0"  # alarm threshold

_PAGE_HINKLEY_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(round(CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
              AS DOUBLE) / count(*), 6) AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, x,
         CAST(sum(x) OVER w AS DECIMAL(38,6)) AS sx,
         row_number() OVER (ORDER BY day) AS t
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
terms AS (
  SELECT day, x, t,
         CAST(round(CAST(sx AS DOUBLE) / t, 6) AS DECIMAL(18,6)) AS xbar,
         CAST(x - CAST(round(CAST(sx AS DOUBLE) / t, 6) AS DECIMAL(18,6))
              - CAST({_PH_DELTA} AS DECIMAL(18,6)) AS DECIMAL(28,6))
           AS inc_pos,
         CAST(CAST(round(CAST(sx AS DOUBLE) / t, 6) AS DECIMAL(18,6)) - x
              - CAST({_PH_DELTA} AS DECIMAL(18,6)) AS DECIMAL(28,6))
           AS inc_neg
  FROM cum
),
ph AS (
  SELECT day, x, t, xbar,
         CAST(sum(inc_pos) OVER w AS DECIMAL(38,6)) AS m_pos,
         CAST(sum(inc_neg) OVER w AS DECIMAL(38,6)) AS m_neg
  FROM terms
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
mm AS (
  SELECT day, x, t, xbar, m_pos, m_neg,
         min(m_pos) OVER w AS min_pos,
         min(m_neg) OVER w AS min_neg
  FROM ph
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT day, CAST(x AS DOUBLE) AS daily_mean,
       CAST(xbar AS DOUBLE) AS running_mean,
       CAST(m_pos - min_pos AS DOUBLE) AS ph_up,
       CAST(m_neg - min_neg AS DOUBLE) AS ph_down,
       m_pos - min_pos > {_PH_LAMBDA} AS drift_up,
       m_neg - min_neg > {_PH_LAMBDA} AS drift_down
FROM mm
"""


@register("events_page_hinkley", oracle=_PAGE_HINKLEY_SQL)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift detector over the daily mean-value
    series, both directions (built r9 session 3, staged r10) — the
    sequential-monitoring member of the drift trio (PSI compares
    distributions batch-to-reference, CUSUM tracks a KNOWN baseline;
    Page-Hinkley needs no baseline: it tracks the RUNNING mean and
    alarms when the cumulative deviation m_T leaves its own historical
    minimum by more than lambda). Although the textbook states it as a
    sequential recursion, every quantity is a cumulative-window
    expression over the bounded day grid: the daily means are round-6
    DECIMALs (per-day sums add round-6 decimals — the segment-tree
    float-association hazard the rolling-zscore query documented), the
    running mean re-pins to the 6dp grid once per row, and the PH
    increments are EXACT decimal subtractions from there (a
    round-9-of-double draft diverged on 25/30 rows — small-t division
    quotients land on genuine half-even vs half-up double ties), so
    the whole trajectory is bit-identical cross-engine with no
    recursion at all.

    Scale shape: one day-keyed aggregate (map-side combinable; the
    only data-sized pass); four cumulative windows over ~30 value-
    level rows at any data scale."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.round(
            F.sum(F.round("value", 6).cast("decimal(18,6)"))
            .cast("double") / F.count("*"),
            6,
        ).cast("decimal(18,6)").alias("x")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day", "x",
        F.sum("x").over(w).cast("decimal(38,6)").alias("sx"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )
    # the running mean re-pins to the 6dp DECIMAL grid ONCE per row; the
    # PH increments are then EXACT decimal subtractions with no further
    # rounding — a round-9-of-double draft hit genuine half-even vs
    # half-up boundaries on 25 of 30 rows (small-t divisions make short
    # decimal expansions land on ties)
    xbar6 = F.round(F.col("sx").cast("double") / F.col("t"), 6).cast(
        "decimal(18,6)"
    )
    delta6 = F.lit(_PH_DELTA).cast("decimal(18,6)")
    terms = cum.select(
        "day", "x", "t", xbar6.alias("xbar"),
        (F.col("x") - xbar6 - delta6).cast("decimal(28,6)").alias("inc_pos"),
        (xbar6 - F.col("x") - delta6).cast("decimal(28,6)").alias("inc_neg"),
    )
    ph = terms.select(
        "day", "x", "t", "xbar",
        F.sum("inc_pos").over(w).cast("decimal(38,6)").alias("m_pos"),
        F.sum("inc_neg").over(w).cast("decimal(38,6)").alias("m_neg"),
    )
    mm = ph.select(
        "day", "x", "xbar", "m_pos", "m_neg",
        F.min("m_pos").over(w).alias("min_pos"),
        F.min("m_neg").over(w).alias("min_neg"),
    )
    lam = float(_PH_LAMBDA)
    return mm.select(
        "day",
        F.col("x").cast("double").alias("daily_mean"),
        F.col("xbar").cast("double").alias("running_mean"),
        (F.col("m_pos") - F.col("min_pos")).cast("double").alias("ph_up"),
        (F.col("m_neg") - F.col("min_neg")).cast("double").alias("ph_down"),
        ((F.col("m_pos") - F.col("min_pos")) > lam).alias("drift_up"),
        ((F.col("m_neg") - F.col("min_neg")) > lam).alias("drift_down"),
    )


# ---------------------------------------------------------------------------
# seasonality / trend strength (Hyndman FPP) from the STL-lite components
# ---------------------------------------------------------------------------

_STRENGTH_SQL = f"""
WITH comp AS ({_STL_SQL.replace("ORDER BY day", "")}),
u AS (
  SELECT CAST(round((observed - trend - seasonal) * 1000000) AS BIGINT) AS r,
         CAST(round((observed - seasonal) * 1000000) AS BIGINT) AS tr,
         CAST(round((observed - trend) * 1000000) AS BIGINT) AS sr
  FROM comp
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(r AS DECIMAL(38,0)) * r) AS DECIMAL(38,0)) AS rr,
         CAST(sum(r) AS DECIMAL(38,0)) AS rs,
         CAST(sum(CAST(tr AS DECIMAL(38,0)) * tr) AS DECIMAL(38,0)) AS trr,
         CAST(sum(tr) AS DECIMAL(38,0)) AS trs,
         CAST(sum(CAST(sr AS DECIMAL(38,0)) * sr) AS DECIMAL(38,0)) AS srr,
         CAST(sum(sr) AS DECIMAL(38,0)) AS srs
  FROM u
),
q AS (
  -- 128-bit exact variances floor-divided to < 2^53 BEFORE the double
  -- conversion: DuckDB's int128->double is not correctly rounded, so
  -- the raw 1e22-scale integers diverged from Spark by ulps at
  -- sf0.001 (measured; the zipf-fit lesson at 128-bit width). Both
  -- engines truncate integer division toward zero and the variance
  -- quadratics are nonnegative, so the quotients are exact floors.
  SELECT n,
         CAST(CAST(n * rr - rs * rs AS HUGEINT)
              // 1000000000000 AS BIGINT) AS rq,
         CAST(CAST(n * trr - trs * trs AS HUGEINT)
              // 1000000000000 AS BIGINT) AS tq,
         CAST(CAST(n * srr - srs * srs AS HUGEINT)
              // 1000000000000 AS BIGINT) AS sq
  FROM m
)
SELECT n AS n_days,
       CASE WHEN tq > 0 THEN
         GREATEST(CAST(0 AS DOUBLE),
                  1 - CAST(rq AS DOUBLE) / CAST(tq AS DOUBLE))
       END AS f_trend,
       CASE WHEN sq > 0 THEN
         GREATEST(CAST(0 AS DOUBLE),
                  1 - CAST(rq AS DOUBLE) / CAST(sq AS DOUBLE))
       END AS f_seasonal
FROM q WHERE n > 1
"""


@register(
    "events_seasonality_strength", oracle=_STRENGTH_SQL
)
def events_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trend / seasonality strength (Hyndman & Athanasopoulos, FPP;
    built r10, staged r11) — the one-row health readout OVER
    events_seasonal_decompose's components: F_T = max(0, 1 -
    Var(R)/Var(T+R)) and F_S = max(0, 1 - Var(R)/Var(S+R)), the
    standard features a forecasting pipeline uses to decide whether
    deseasonalizing is worth anything. Computed on the EXACT integer
    lattice: the published round-6 components scale to micro-unit
    BIGINTs, variances reduce to n*Σv² − (Σv)² on a 128-bit DECIMAL
    (the sample-size factor cancels in the RATIO, so no division
    before the final identical double quotient), and NULL when the
    denominator variance is zero (flat series — strength undefined).

    Scale shape: everything after the decompose's daily collapse is
    driver-scale (365·years rows); the strength reduce is one more
    1-row aggregate on that tiny relation."""
    comp = events_seasonal_decompose(spark, sf_dir)
    u = comp.select(
        F.round(
            (F.col("observed") - F.col("trend") - F.col("seasonal"))
            * 1_000_000
        )
        .cast("bigint")
        .alias("r"),
        F.round((F.col("observed") - F.col("seasonal")) * 1_000_000)
        .cast("bigint")
        .alias("tr"),
        F.round((F.col("observed") - F.col("trend")) * 1_000_000)
        .cast("bigint")
        .alias("sr"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec("r") * F.col("r")).cast("decimal(38,0)").alias("rr"),
        F.sum("r").cast("decimal(38,0)").alias("rs"),
        F.sum(dec("tr") * F.col("tr")).cast("decimal(38,0)").alias("trr"),
        F.sum("tr").cast("decimal(38,0)").alias("trs"),
        F.sum(dec("sr") * F.col("sr")).cast("decimal(38,0)").alias("srr"),
        F.sum("sr").cast("decimal(38,0)").alias("srs"),
    )
    n = F.col("n")
    # floor-div the exact 128-bit variance quadratics to < 2^53 before
    # any double conversion (see the oracle's comment: DuckDB's
    # int128->double rounding diverged by ulps at sf0.001); `div`
    # truncates toward zero = floor on these nonnegative quadratics
    q = m.select(
        n.alias("n"),
        F.expr("(n * rr - rs * rs) div 1000000000000").alias("rq"),
        F.expr("(n * trr - trs * trs) div 1000000000000").alias("tq"),
        F.expr("(n * srr - srs * srs) div 1000000000000").alias("sq"),
    )
    rq = F.col("rq").cast("double")
    tq = F.col("tq").cast("double")
    sq = F.col("sq").cast("double")
    return q.where(F.col("n") > 1).select(
        F.col("n").alias("n_days"),
        F.when(F.col("tq") > 0, F.greatest(F.lit(0.0), 1 - rq / tq)).alias(
            "f_trend"
        ),
        F.when(F.col("sq") > 0, F.greatest(F.lit(0.0), 1 - rq / sq)).alias(
            "f_seasonal"
        ),
    )


# ---------------------------------------------------------------------------
# Kleinberg 2-state burst detection (Viterbi with backtrack, exact decimal)
# ---------------------------------------------------------------------------

_KLEINBERG_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
),
ord AS (
  SELECT day, x, row_number() OVER (ORDER BY day) AS t FROM daily
),
par AS (
  SELECT count(*) AS n,
         CAST(round(ln(CAST(sum(x) AS DOUBLE) / count(*)), 9)
              AS DECIMAL(12,9)) AS lr0,
         CAST(round(ln(2 * CAST(sum(x) AS DOUBLE) / count(*)), 9)
              AS DECIMAL(12,9)) AS lr1,
         CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 6)
              AS DECIMAL(18,6)) AS r0,
         CAST(round(2 * CAST(sum(x) AS DOUBLE) / count(*), 6)
              AS DECIMAL(18,6)) AS r1,
         CAST(round(2 * ln(count(*)), 6) AS DECIMAL(18,6)) AS g
  FROM ord
),
costs AS (
  SELECT t, day, x,
         CAST(round(r0 - x * lr0, 6) AS DECIMAL(18,6)) AS c0,
         CAST(round(r1 - x * lr1, 6) AS DECIMAL(18,6)) AS c1
  FROM ord, par
),
fwd(t, d0, d1, b0, b1) AS (
  SELECT t, c0, CAST(g + c1 AS DECIMAL(18,6)), 0, 0
  FROM costs, par WHERE t = 1
  UNION ALL
  SELECT c.t,
         CAST((CASE WHEN f.d0 <= f.d1 THEN f.d0 ELSE f.d1 END) + c.c0
              AS DECIMAL(18,6)),
         CAST((CASE WHEN f.d1 <= f.d0 + p.g THEN f.d1 ELSE f.d0 + p.g END)
              + c.c1 AS DECIMAL(18,6)),
         CASE WHEN f.d0 <= f.d1 THEN 0 ELSE 1 END,
         CASE WHEN f.d1 <= f.d0 + p.g THEN 1 ELSE 0 END
  FROM fwd f JOIN costs c ON c.t = f.t + 1, par p
),
back(t, s) AS (
  SELECT f.t, CASE WHEN f.d1 < f.d0 THEN 1 ELSE 0 END
  FROM fwd f, par WHERE f.t = par.n
  UNION ALL
  SELECT b.t - 1, CASE WHEN b.s = 0 THEN f.b0 ELSE f.b1 END
  FROM back b JOIN fwd f ON f.t = b.t
  WHERE b.t > 1
)
SELECT o.day, CAST(o.x AS BIGINT) AS x, b.s = 1 AS burst
FROM back b JOIN ord o USING (t)
"""


@register("events_kleinberg_bursts", oracle=_KLEINBERG_SQL)
def events_kleinberg_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg 2-state burst detection (Kleinberg 2002, the batch
    automaton; built r10, staged r11) — REAL Viterbi with backtrack
    over the daily event-count series: a base state emitting at the
    corpus mean rate and a burst state at 2x, per-day Poisson
    negative-log-likelihood costs (up to the state-free ln(x!) term),
    a 2·ln(n) penalty for ENTERING the burst state, and the
    minimum-cost state path — the principled alternative to
    threshold-based spike flags (events_anomaly_mad's family), since
    the entry penalty suppresses one-day noise while contiguous bursts
    amortize it. Decimal discipline: rates and ln-rates pin to 6/9dp
    once (ln of identical doubles — the safe transcendental), per-day
    costs are exact decimal expressions, and BOTH dynamic-programming
    passes (forward min-cost + backward path reconstruction) run in
    EXACT DECIMAL(18,6): as one in-row fold pair here, as forward +
    backward RECURSIVE CTEs in the oracle — genuinely different
    evaluation strategies for the same recursion, hash-matched.

    Scale shape: the corpus reduces to one (day, count) row per day
    (the only data-sized shuffle, map-side combinable); the
    series-length fold runs in-row on the bounded daily array
    (365·years elements — driver-scale, the Holt-Winters / ADPCM
    convention for genuinely sequential recursions). Per-entity burst
    detection = the same fold keyed by entity."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("x")
    )
    row = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day", "x"))
        ).alias("arr"),
        F.count("*").alias("n"),
        F.sum("x").alias("tot"),
    ).where(F.col("n") > 0)
    mean = F.col("tot").cast("double") / F.col("n")
    par = row.select(
        "arr",
        "n",
        F.round(F.log(mean), 9).cast("decimal(12,9)").alias("lr0"),
        F.round(F.log(2 * mean), 9).cast("decimal(12,9)").alias("lr1"),
        F.round(mean, 6).cast("decimal(18,6)").alias("r0"),
        F.round(2 * mean, 6).cast("decimal(18,6)").alias("r1"),
        F.round(2 * F.log(F.col("n").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("g"),
    )
    # per-day exact-decimal costs, in day order
    costs = F.expr(
        """
      transform(arr, e -> struct(
        e.day AS day, e.x AS x,
        CAST(round(r0 - e.x * lr0, 6) AS DECIMAL(18,6)) AS c0,
        CAST(round(r1 - e.x * lr1, 6) AS DECIMAL(18,6)) AS c1))
    """
    )
    withc = par.select("n", "g", costs.alias("cs"))
    # forward Viterbi: exact-decimal min-cost per state + the decision
    # (previous state) that achieved it, recorded per day
    fwd = F.expr(
        """
      aggregate(
        slice(cs, 2, size(cs) - 1),
        struct(CAST(cs[0].c0 AS DECIMAL(18,6)) AS d0,
               CAST(g + cs[0].c1 AS DECIMAL(18,6)) AS d1,
               array(struct(0 AS b0, 0 AS b1)) AS dec),
        (acc, c) -> struct(
          CAST((CASE WHEN acc.d0 <= acc.d1 THEN acc.d0 ELSE acc.d1 END)
               + c.c0 AS DECIMAL(18,6)) AS d0,
          CAST((CASE WHEN acc.d1 <= acc.d0 + g THEN acc.d1
                     ELSE acc.d0 + g END) + c.c1 AS DECIMAL(18,6)) AS d1,
          array_append(acc.dec, struct(
            CASE WHEN acc.d0 <= acc.d1 THEN 0 ELSE 1 END AS b0,
            CASE WHEN acc.d1 <= acc.d0 + g THEN 1 ELSE 0 END AS b1)) AS dec))
    """
    )
    f = withc.select("n", "cs", fwd.alias("f"))
    # backward pass: reconstruct the argmin path from the decisions
    back = F.expr(
        """
      reverse(aggregate(
        sequence(size(cs), 1, -1),
        struct(CASE WHEN f.d1 < f.d0 THEN 1 ELSE 0 END AS s,
               CAST(array() AS ARRAY<INT>) AS labels),
        (acc, t) -> struct(
          CASE WHEN t > 1 THEN
            CASE WHEN acc.s = 0 THEN element_at(f.dec, t).b0
                 ELSE element_at(f.dec, t).b1 END
          ELSE acc.s END AS s,
          array_append(acc.labels, acc.s) AS labels),
        acc -> acc.labels))
    """
    )
    lab = f.select("cs", back.alias("labels"))
    return lab.select(
        F.explode(F.arrays_zip("cs", "labels")).alias("z")
    ).select(
        F.col("z.cs.day").alias("day"),
        F.col("z.cs.x").cast("bigint").alias("x"),
        (F.col("z.labels") == 1).alias("burst"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart (built r11, staged r12)
# ---------------------------------------------------------------------------

_EWMA_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(ts AS DATE) AS day,
         row_number() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS t_idx,
         x
  FROM (SELECT CAST(ts AS DATE) AS ts, count(*) AS x
        FROM events GROUP BY 1)
),
n AS (SELECT count(*) AS n FROM daily),
center AS (
  SELECT CAST(round(sum(x) / CAST(nn.n AS DECIMAL(18,6)), 6)
              AS DECIMAL(28,6)) AS mu
  FROM daily, (SELECT n AS n FROM n) nn GROUP BY nn.n
),
mr AS (
  SELECT CAST(round(sum(ABS(b.x - a.x))
              / CAST(nn.n - 1 AS DECIMAL(18,6)), 6)
              AS DECIMAL(28,6)) AS mrbar
  FROM daily a JOIN daily b ON b.t_idx = a.t_idx + 1,
       (SELECT n AS n FROM n) nn
  GROUP BY nn.n
),
sig AS (
  SELECT CAST(round(CAST(mrbar AS DOUBLE) / 1.128, 6)
              AS DECIMAL(28,6)) AS sigma
  FROM mr
),
rec AS (
  SELECT d.t_idx AS t, d.day, d.x,
         CAST(d.x AS DECIMAL(28,6)) AS z,
         CAST(1.0 AS DECIMAL(28,6)) AS w
  FROM daily d, n WHERE d.t_idx = 0 AND n.n >= 2
  UNION ALL
  SELECT d.t_idx, d.day, d.x,
         CAST(round(CAST(0.2 AS DECIMAL(18,6)) * d.x
              + CAST(0.8 AS DECIMAL(18,6)) * r.z, 6) AS DECIMAL(28,6)),
         CAST(round(CAST(0.64 AS DECIMAL(18,6)) * r.w, 6)
              AS DECIMAL(28,6))
  FROM rec r JOIN daily d ON d.t_idx = r.t + 1
)
SELECT r.day, r.x,
       CAST(r.z AS DOUBLE) AS z,
       CAST(CAST(c.mu AS DOUBLE)
            + 3.0 * CAST(s.sigma AS DOUBLE)
              * sqrt(0.2 / 1.8 * (1.0 - CAST(r.w AS DOUBLE)))
            AS DOUBLE) AS ucl,
       CAST(CAST(c.mu AS DOUBLE)
            - 3.0 * CAST(s.sigma AS DOUBLE)
              * sqrt(0.2 / 1.8 * (1.0 - CAST(r.w AS DOUBLE)))
            AS DOUBLE) AS lcl,
       (CAST(r.z AS DOUBLE) > CAST(c.mu AS DOUBLE)
            + 3.0 * CAST(s.sigma AS DOUBLE)
              * sqrt(0.2 / 1.8 * (1.0 - CAST(r.w AS DOUBLE)))
        OR CAST(r.z AS DOUBLE) < CAST(c.mu AS DOUBLE)
            - 3.0 * CAST(s.sigma AS DOUBLE)
              * sqrt(0.2 / 1.8 * (1.0 - CAST(r.w AS DOUBLE))))
         AS out_of_control
FROM rec r, center c, sig s
WHERE r.t > 0
"""


@register("events_ewma_control", oracle=_EWMA_SQL)
def events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event-count series (built
    r11, staged r12) — the SPC (statistical process control) member of
    the drift family: Page-Hinkley and CUSUM detect a single change
    point, the EWMA chart maintains a RUNNING smoothed level with
    time-varying ±3σ control limits (Lucas & Saccucci 1990), flagging
    every excursion. λ = 0.2; σ̂ from the mean moving range / d₂
    (=1.128, the 2-point subgroup constant); limits widen with
    1-(1-λ)^{2t} so early points are judged against the tighter
    start-up variance.

    Determinism engineering: BOTH the smoothed level z_t and the limit
    factor w_t = (1-λ)^{2t} run as exact 6dp-DECIMAL recursions
    (round-half-up every step — the Holt-Winters device: Python
    decimal in an applyInPandas fold on the Spark side, a DuckDB
    RECURSIVE CTE on the oracle side); the final z/UCL/LCL/flag are
    ONE fixed-shape double expression of the pinned decimals (sqrt is
    a safe transcendental; row 0 is start-up state, not emitted).

    Scale shape: one day-keyed count (map-side combinable, the only
    data-sized pass); the chart fold runs over the BOUNDED day-level
    series as a single applyInPandas group — constant-size at any
    corpus scale."""
    import math

    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("x"))

    schema = (
        "day date, x long, z double, ucl double, lcl double,"
        " out_of_control boolean"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")

        def r6(v):
            return v.quantize(q, rounding=ROUND_HALF_UP)

        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [Decimal(int(v)) for v in pdf["x"]]
        cols = ["day", "x", "z", "ucl", "lcl", "out_of_control"]
        if len(xs) < 2:
            return pd.DataFrame(columns=cols).astype(
                {"day": "object", "x": "int64", "z": "float64",
                 "ucl": "float64", "lcl": "float64",
                 "out_of_control": "bool"}
            )
        n = len(xs)
        mu = r6(sum(xs) / n)
        mrbar = r6(
            sum(abs(xs[i + 1] - xs[i]) for i in range(n - 1)) / (n - 1)
        )
        sigma = r6(Decimal(repr(float(mrbar) / 1.128)))
        lam, oml, omls = Decimal("0.2"), Decimal("0.8"), Decimal("0.64")
        z, w = xs[0], Decimal("1.0")
        rows = []
        for t in range(1, n):
            z = r6(lam * xs[t] + oml * z)
            w = r6(omls * w)
            half = 3.0 * float(sigma) * math.sqrt(
                0.2 / 1.8 * (1.0 - float(w))
            )
            ucl = float(mu) + half
            lcl = float(mu) - half
            zf = float(z)
            rows.append(
                (pdf["day"][t], int(xs[t]), zf, ucl, lcl,
                 zf > ucl or zf < lcl)
            )
        return pd.DataFrame(rows, columns=cols)

    return (
        daily.groupBy(F.lit(1).alias("g"))
        .applyInPandas(lambda _key, pdf: fold(pdf), schema)
    )


# ---------------------------------------------------------------------------
# Croston's intermittent-demand forecast (built r11, staged r12)
# ---------------------------------------------------------------------------

_CROSTON_SQL = """
WITH RECURSIVE span AS (
  SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
  FROM events
),
dem AS (
  SELECT date_diff('day', span.d0, CAST(ts AS DATE)) AS t,
         count(*) AS x
  FROM events, span WHERE event_type = 'purchase'
  GROUP BY 1
),
dem_ord AS (
  SELECT t, x, row_number() OVER (ORDER BY t) AS k FROM dem
),
nk AS (SELECT count(*) AS n_demands FROM dem_ord),
rec AS (
  SELECT k, t,
         CAST(round(CAST(x AS DECIMAL(28,6)), 6) AS DECIMAL(28,6)) AS z,
         CAST(t + 1 AS DECIMAL(28,6)) AS p
  FROM dem_ord WHERE k = 1
  UNION ALL
  SELECT d.k, d.t,
         CAST(round(CAST(0.2 AS DECIMAL(18,6)) * d.x
              + CAST(0.8 AS DECIMAL(18,6)) * r.z, 6) AS DECIMAL(28,6)),
         CAST(round(CAST(0.2 AS DECIMAL(18,6)) * (d.t - r.t)
              + CAST(0.8 AS DECIMAL(18,6)) * r.p, 6) AS DECIMAL(28,6))
  FROM rec r JOIN dem_ord d ON d.k = r.k + 1
)
SELECT CAST(date_diff('day', span.d0, span.d1) + 1 AS BIGINT) AS n_days,
       CAST(nk.n_demands AS BIGINT) AS n_demands,
       CAST(r.z AS DOUBLE) AS z_size,
       CAST(r.p AS DOUBLE) AS p_interval,
       CAST(CAST(r.z AS DOUBLE) / CAST(r.p AS DOUBLE) AS DOUBLE)
         AS croston_forecast,
       CAST(0.9 * (CAST(r.z AS DOUBLE) / CAST(r.p AS DOUBLE)) AS DOUBLE)
         AS sba_forecast
FROM rec r, span, nk
WHERE r.k = nk.n_demands
"""


@register(
    "events_croston_intermittent", oracle=_CROSTON_SQL
)
def events_croston_intermittent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's intermittent-demand forecast (built r11, staged r12)
    — the forecasting method for series that are MOSTLY ZERO (spare
    parts, rare purchases), where Holt-Winters smooths noise into the
    gaps: maintain separate EWMAs of the nonzero demand SIZE z and the
    inter-demand INTERVAL p (α = 0.2, updated only on demand days);
    forecast = z/p, plus the Syntetos-Boylan bias correction
    (1 − α/2)·z/p. Demand = daily purchase-event count on the
    calendar grid from the events span.

    Determinism engineering: zero days don't change state, so the
    recursion runs over the ORDERED DEMAND DAYS only — exact
    6dp-DECIMAL updates half-up per step (Python decimal fold on the
    Spark side, a DuckDB RECURSIVE CTE over the row_number'd demand
    list on the oracle side — the Holt-Winters/EWMA device); the two
    forecasts are fixed-shape double expressions of the pinned finals.

    Scale shape: one day-keyed purchase count (map-side combinable,
    the only data-sized pass); the fold runs over the bounded
    demand-day list as a single applyInPandas group."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    from ..cache import persist_tracked

    ev = persist_tracked(events.select("ts", "event_type"))
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    dem = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(span))
        .select(
            F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").alias("x"))
    )
    schema = (
        "n_demands long, z_size double, p_interval double,"
        " croston_forecast double, sba_forecast double"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")

        def r6(v):
            return v.quantize(q, rounding=ROUND_HALF_UP)

        pdf = pdf.sort_values("t").reset_index(drop=True)
        if len(pdf) == 0:
            return pd.DataFrame(
                columns=[
                    "n_demands", "z_size", "p_interval",
                    "croston_forecast", "sba_forecast",
                ]
            ).astype("float64")
        a, oma = Decimal("0.2"), Decimal("0.8")
        ts = [int(v) for v in pdf["t"]]
        xs = [Decimal(int(v)) for v in pdf["x"]]
        z = r6(xs[0])
        p = Decimal(ts[0] + 1)
        for k in range(1, len(ts)):
            z = r6(a * xs[k] + oma * z)
            p = r6(a * (ts[k] - ts[k - 1]) + oma * p)
        fc = float(z) / float(p)
        return pd.DataFrame(
            [(len(ts), float(z), float(p), fc, 0.9 * fc)],
            columns=[
                "n_demands", "z_size", "p_interval",
                "croston_forecast", "sba_forecast",
            ],
        )

    finals = dem.groupBy(F.lit(1).alias("g")).applyInPandas(
        lambda _key, pdf: fold(pdf), schema
    )
    days = span.select(
        (F.datediff("d1", "d0") + 1).cast("bigint").alias("n_days")
    )
    return days.crossJoin(finals).select(
        "n_days",
        F.col("n_demands").cast("bigint").alias("n_demands"),
        "z_size",
        "p_interval",
        "croston_forecast",
        "sba_forecast",
    )


# ---------------------------------------------------------------------------
# MASE forecast-quality evaluation (built r11, staged r12)
# ---------------------------------------------------------------------------

_MASE_SQL = f"""
WITH hw AS ({_HOLT_WINTERS_SQL}),
daily AS (
  SELECT row_number() OVER (ORDER BY CAST(ts AS DATE)) - 1 AS t_idx, x
  FROM (SELECT CAST(ts AS DATE) AS ts, count(*) AS x
        FROM events GROUP BY 1)
),
naive AS (
  SELECT CAST(sum(ABS(b.x - a.x)) AS BIGINT) AS sae,
         CAST(count(*) AS BIGINT) AS n_naive
  FROM daily a JOIN daily b ON b.t_idx = a.t_idx + {_HW_M}
),
model AS (
  SELECT CAST(sum(CAST(ABS(residual) AS DECIMAL(28,6)))
              AS DECIMAL(38,6)) AS sre,
         CAST(count(*) AS BIGINT) AS n_fitted
  FROM hw
)
SELECT m.n_fitted,
       CAST(CAST(m.sre AS DOUBLE) / m.n_fitted AS DOUBLE) AS mae_model,
       CAST(CAST(nv.sae AS DOUBLE) / nv.n_naive AS DOUBLE) AS mae_naive,
       CAST((CAST(m.sre AS DOUBLE) / m.n_fitted)
            / (CAST(nv.sae AS DOUBLE) / nv.n_naive) AS DOUBLE) AS mase
FROM model m, naive nv
WHERE m.n_fitted > 0 AND nv.n_naive > 0 AND nv.sae > 0
"""


@register("events_forecast_mase_eval", oracle=_MASE_SQL)
def events_forecast_mase_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MASE forecast-quality evaluation (built r11, staged r12) —
    closes the forecasting loop the way the ANN family closes
    retrieval (fit → eval): the Hyndman-Koehler Mean Absolute Scaled
    Error of events_holt_winters' one-step-ahead fits against the
    in-sample SEASONAL-NAIVE baseline (x̂_t = x_{{t-{_HW_M}}}) — the
    standard scale-free skill score. MASE < 1 means the model beats
    persistence; the honest check before a fitted forecaster's output
    is trusted downstream.

    Exactness: model residuals are the Holt-Winters 6dp-decimal
    trajectory (|·| sums exactly in DECIMAL); the seasonal-naive
    errors are exact integer count differences; the three readouts
    are fixed-shape double expressions of the two exact sums.

    Scale shape: the Holt-Winters fold (bounded day grid) plus one
    self-join on the day index — everything after the day-keyed count
    is calendar-sized."""
    from .registry import resolve_query

    events = load_table(spark, sf_dir, "events")
    hw = resolve_query("events_holt_winters")(spark, sf_dir)
    daily = (
        events.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("x"))
        .select(
            (
                F.row_number().over(Window.orderBy("day")) - 1
            ).alias("t_idx"),
            "x",
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    naive = a.join(
        b, F.col("b.t_idx") == F.col("a.t_idx") + _HW_M
    ).agg(
        F.sum(F.abs(F.col("b.x") - F.col("a.x")))
        .cast("bigint")
        .alias("sae"),
        F.count("*").cast("bigint").alias("n_naive"),
    )
    model = hw.agg(
        F.sum(F.abs(F.col("residual")).cast("decimal(28,6)"))
        .cast("decimal(38,6)")
        .alias("sre"),
        F.count("*").cast("bigint").alias("n_fitted"),
    )
    sre = F.col("sre").cast("double")
    sae = F.col("sae").cast("double")
    return (
        model.crossJoin(F.broadcast(naive))
        .where(
            (F.col("n_fitted") > 0)
            & (F.col("n_naive") > 0)
            & (F.col("sae") > 0)
        )
        .select(
            "n_fitted",
            (sre / F.col("n_fitted")).cast("double").alias("mae_model"),
            (sae / F.col("n_naive")).cast("double").alias("mae_naive"),
            (
                (sre / F.col("n_fitted")) / (sae / F.col("n_naive"))
            )
            .cast("double")
            .alias("mase"),
        )
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend slope (built r12, staged r13)
# ---------------------------------------------------------------------------

_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1
),
pairs AS (
  SELECT b.d - a.d AS dx, b.yc - a.yc AS dy
  FROM daily a JOIN daily b ON b.d > a.d
),
sl AS (
  SELECT CASE WHEN dy < 0
         THEN -((2 * (-dy) * 1000000000 + dx) // (2 * dx))
         ELSE (2 * dy * 1000000000 + dx) // (2 * dx) END AS s9
  FROM pairs
),
ord AS (
  SELECT s9, row_number() OVER (ORDER BY s9) AS rn, count(*) OVER () AS m
  FROM sl
),
med AS (
  SELECT CAST(sum(s9) AS BIGINT) AS msum, CAST(count(*) AS BIGINT) AS mc
  FROM ord WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
),
meta AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
)
SELECT meta.n_days,
       CAST(meta.n_days * (meta.n_days - 1) / 2 AS BIGINT) AS n_pairs,
       CAST(CAST(med.msum * (10 // med.mc) AS DECIMAL(24,0))
            * CAST(0.000000000001 AS DECIMAL(13,12))
            AS DECIMAL(24,12)) AS slope_per_day
FROM med, meta WHERE med.mc > 0
"""


@register("events_theil_sen", oracle=_THEIL_SEN_SQL)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope over the daily value totals (built
    r12, staged r13) — the ESTIMATOR companion to events_mann_kendall's
    trend TEST (the pairing every robust-trend writeup prescribes): the
    median of all pairwise slopes (y_j - y_i)/(d_j - d_i), immune to
    ~29% outlier contamination where the OLS slope (rel_tpch_q6 /
    zipf-fit style) is not.

    Exactness: day totals are exact cents (BIGINT); each pairwise
    slope pins to the 9dp lattice via the sign-split half-up
    trunc-division identity (the ipw device); the median picks the
    lower/upper middle of the PINNED lattice values by row_number
    (deterministic total order on integers), and the even-count mean
    of two 9dp lattice points is stated exactly on the 1e-10 grid
    (msum * (10 div mc) — 10 or 5 per element), scaled to value
    units/day as one exact DECIMAL multiply. No doubles anywhere.

    Scale shape: the pair join is over the DAILY aggregate — bounded
    by the calendar (31 days -> 465 pairs at any data scale), so the
    'O(n²)' of textbook Theil-Sen is a constant here; the only
    data-sized work is the day-keyed map-side-combinable sum. At a
    multi-year horizon the pair set grows quadratically in DAYS only;
    the documented mitigation is the standard windowed Theil-Sen
    (pair d with d+1..d+W)."""
    daily = daily_cents(load_table(spark, sf_dir, "events"))
    return theil_sen_readout(daily)


def daily_cents(ev: DataFrame) -> DataFrame:
    """(d, yc) exact daily value totals in cents, d = epoch day — the
    CALENDAR-bounded additive statistic (~30 rows however much data
    flows) behind the Theil-Sen, changepoint and runs readouts, and the
    streaming Theil-Sen drain's per-batch delta."""
    return ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("yc")
    )


def theil_sen_readout(daily: DataFrame) -> DataFrame:
    """The Theil-Sen estimator as a pure function of the (d, yc)
    daily-cents table — the ADDITIVE sufficient statistic (day-keyed
    cent sums), shared by the batch query and the streaming drain
    (r12): a per-batch delta merges through the ledgered add sink and
    the median-slope readout runs identically from merged state."""
    from ..cache import persist_tracked

    daily = persist_tracked(daily)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        (F.col("b.d") - F.col("a.d")).alias("dx"),
        (F.col("b.yc") - F.col("a.yc")).alias("dy"),
    )
    sl = pairs.selectExpr(
        "CASE WHEN dy < 0"
        " THEN -((2 * (-dy) * 1000000000 + dx) div (2 * dx))"
        " ELSE (2 * dy * 1000000000 + dx) div (2 * dx) END AS s9"
    )
    w = Window.orderBy("s9")
    ordd = sl.select(
        "s9",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    med = ordd.where(
        F.expr("rn = (m + 1) div 2 OR rn = (m + 2) div 2")
    ).agg(
        F.sum("s9").cast("bigint").alias("msum"),
        F.count("*").cast("bigint").alias("mc"),
    )
    meta = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        med.crossJoin(F.broadcast(meta))
        .where(F.col("mc") > 0)
        .selectExpr(
            "n_days",
            "CAST(n_days * (n_days - 1) / 2 AS BIGINT) AS n_pairs",
            "CAST(CAST(msum * (10 div mc) AS DECIMAL(24,0))"
            " * CAST(0.000000000001 AS DECIMAL(13,12))"
            " AS DECIMAL(24,12)) AS slope_per_day",
        )
    )


# ---------------------------------------------------------------------------
# Binary-segmentation changepoint (built r12, staged r13)
# ---------------------------------------------------------------------------

_BINSEG_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1
),
ord AS (
  SELECT d, yc,
         row_number() OVER (ORDER BY d) AS i,
         sum(yc) OVER (ORDER BY d) AS p
  FROM daily
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(yc) AS BIGINT) AS s,
         CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS q
  FROM ord
),
gains AS (
  SELECT o.d, o.i, o.p, t.n, t.s,
         CAST(t.n AS HUGEINT) * o.p - o.i * t.s AS x,
         o.i * (t.n - o.i) * (t.n * t.q - CAST(t.s AS HUGEINT) * t.s)
           AS den
  FROM ord o, tot t WHERE o.i < t.n
),
pinned AS (
  SELECT d, i, p, n, s,
         CASE WHEN den > 0
              THEN (2 * x * x * 1000000000 + den) // (2 * den)
              ELSE 0 END AS r9
  FROM gains
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY r9 DESC, i) AS rk FROM pinned
  ) WHERE rk = 1
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(d AS BIGINT) AS split_day,
       CAST(i AS BIGINT) AS split_idx,
       CAST(CAST(r9 AS DECIMAL(12,0))
            * CAST(0.000000001 AS DECIMAL(10,9)) AS DECIMAL(12,9))
         AS gain_ratio,
       CAST(CAST((2 * p * 10000 + i) // (2 * i) AS DECIMAL(18,0))
            * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))
         AS mean_left,
       CAST(CAST((2 * (s - p) * 10000 + (n - i)) // (2 * (n - i))
                 AS DECIMAL(18,0))
            * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))
         AS mean_right
FROM best
"""


@register("events_binseg_changepoint", oracle=_BINSEG_SQL)
def events_binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint LOCATOR over the daily value
    totals (built r12, staged r13) — the offline companion to the
    online detectors (CUSUM flags THAT a shift happened, Page-Hinkley
    monitors a stream; binary segmentation answers WHERE): the split k
    maximizing the SSE reduction Δ(k) = X_k²/(n·k·(n−k)) with
    X_k = n·P_k − k·S, reported as the exact gain ratio
    Δ(k)/TSS = X_k²/(k·(n−k)·(nQ−S²)) ∈ [0,1] — one recursion level
    of the classic binseg/PELT family, the exactly-statable witness.

    Exactness: day totals/prefix sums are exact cents; X_k, the
    denominator, and Q live on the HUGEINT/DECIMAL(38,0) lattice
    (X² ≤ ~1e22 at bench scale, ×1e9 ≤ 1e31 — inside both engines'
    38-digit range); the gain ratio pins to 9dp and the segment means
    to 6dp via the half-up trunc-division identity (the ipw device);
    the argmax is a deterministic (r9 desc, k asc) rank over the
    calendar-bounded gain table. All-days-equal series degenerate to
    den = 0 rows, pinned to r9 = 0 (no spurious split).

    Scale shape: one day-keyed map-side-combinable reduce is the only
    data-sized work; prefix sums, gains, and the argmax run on the
    ~30-row calendar grid at any data scale."""
    daily = daily_cents(load_table(spark, sf_dir, "events"))
    w = Window.orderBy("d")
    ordd = daily.select(
        "d", "yc",
        F.row_number().over(w).alias("i"),
        F.sum("yc").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("p"),
    )
    from ..cache import persist_tracked

    ordd = persist_tracked(ordd)
    tot = ordd.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("yc").cast("bigint").alias("s"),
        F.sum(F.col("yc").cast("decimal(18,0)") * F.col("yc"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    gains = (
        ordd.crossJoin(F.broadcast(tot))
        .where(F.col("i") < F.col("n"))
        .selectExpr(
            "d", "i", "p", "n", "s",
            "CAST(n AS DECIMAL(20,0)) * p - i * s AS x",
            "CAST(i AS DECIMAL(20,0)) * (n - i)"
            " * (n * q - CAST(s AS DECIMAL(20,0)) * s) AS den",
        )
    )
    pinned = gains.selectExpr(
        "d", "i", "p", "n", "s",
        "CASE WHEN den > 0"
        " THEN CAST((2 * x * x * 1000000000 + den) div (2 * den)"
        "      AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END AS r9",
    )
    wbest = Window.orderBy(F.col("r9").desc(), F.col("i"))
    best = (
        pinned.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
    )
    return best.selectExpr(
        "CAST(n AS BIGINT) AS n_days",
        "CAST(d AS BIGINT) AS split_day",
        "CAST(i AS BIGINT) AS split_idx",
        "CAST(CAST(r9 AS DECIMAL(12,0))"
        " * CAST(0.000000001 AS DECIMAL(10,9)) AS DECIMAL(12,9))"
        " AS gain_ratio",
        "CAST(CAST((2 * p * 10000 + i) div (2 * i) AS DECIMAL(18,0))"
        " * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))"
        " AS mean_left",
        "CAST(CAST((2 * (s - p) * 10000 + (n - i)) div (2 * (n - i))"
        " AS DECIMAL(18,0))"
        " * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))"
        " AS mean_right",
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (built r12, staged r13)
# ---------------------------------------------------------------------------

_RUNS_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS yc
  FROM events GROUP BY 1
),
diffs AS (
  SELECT d, yc - lag(yc) OVER (ORDER BY d) AS dy FROM daily
),
signs AS (
  SELECT d, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE dy IS NOT NULL AND dy <> 0
),
runs AS (
  SELECT s,
         CASE WHEN s <> lag(s) OVER (ORDER BY d) THEN 1 ELSE 0 END AS brk
  FROM signs
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (s = 1) AS BIGINT) AS n_up,
         CAST(count(*) FILTER (s = -1) AS BIGINT) AS n_down,
         CAST(sum(brk) + 1 AS BIGINT) AS r
  FROM runs
)
SELECT n, n_up, n_down, r AS n_runs,
       1.0 + 2.0 * n_up * n_down / n AS mu_runs,
       sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n)
            / (CAST(n AS DOUBLE) * n * (n - 1))) AS sigma_runs,
       (r - (1.0 + 2.0 * n_up * n_down / n))
         / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n)
                / (CAST(n AS DOUBLE) * n * (n - 1))) AS z
FROM agg
WHERE n > 1 AND n_up > 0 AND n_down > 0
  AND 2 * n_up * n_down > n
"""


@register("events_runs_test", oracle=_RUNS_SQL)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test over the daily up/down sign sequence
    (built r12, staged r13) — the sequence-RANDOMNESS member of the
    trend family: Mann-Kendall asks 'is there a monotone trend',
    Theil-Sen estimates its slope; the runs test asks the orthogonal
    question 'are the day-over-day moves independent at all' (too FEW
    runs = momentum/regime persistence, too MANY = oscillation) —
    the classic pre-check before fitting any forecasting model.

    Exactness: day totals are exact cents; signs and the run count R
    (1 + sign-change count via lag over the calendar-bounded ordered
    sequence) are exact integers; zero diffs drop explicitly
    (documented tie handling). mu/sigma/z are FIXED-SHAPE double
    expressions of the exact counts n / n_up / n_down / R (all far
    below 2^53 — the Welch/KS readout class, carried on the
    unrounded-double allowlist with this audit). Degenerate sequences
    (one sign absent, or 2·n_up·n_down <= n making sigma² <= 0) drop
    explicitly.

    Scale shape: one day-keyed map-side-combinable reduce; lag/runs
    windows run on the ~30-row calendar grid at any data scale."""
    daily = daily_cents(load_table(spark, sf_dir, "events"))
    w = Window.orderBy("d")
    diffs = daily.select(
        "d", (F.col("yc") - F.lag("yc").over(w)).alias("dy")
    )
    signs = diffs.where(
        F.col("dy").isNotNull() & (F.col("dy") != 0)
    ).select("d", F.when(F.col("dy") > 0, 1).otherwise(-1).alias("s"))
    runs = signs.select(
        "s",
        F.when(F.col("s") != F.lag("s").over(w), 1)
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("s") == 1).cast("bigint").alias("n_up"),
        F.count_if(F.col("s") == -1).cast("bigint").alias("n_down"),
        (F.sum("brk") + 1).cast("bigint").alias("r"),
    )
    n, nu, nd, r = (F.col(c) for c in ("n", "n_up", "n_down", "r"))
    mu = F.lit(1.0) + 2.0 * nu * nd / n
    sig = F.sqrt(
        2.0 * nu * nd * (2.0 * nu * nd - n)
        / (n.cast("double") * n * (n - 1))
    )
    return agg.where(
        (n > 1) & (nu > 0) & (nd > 0) & (2 * nu * nd > n)
    ).select(
        "n", "n_up", "n_down", r.alias("n_runs"),
        mu.alias("mu_runs"),
        sig.alias("sigma_runs"),
        ((r - mu) / sig).alias("z"),
    )


# ---------------------------------------------------------------------------
# Competing-risks cumulative incidence (built r12, staged r13)
# ---------------------------------------------------------------------------

_CIF_SQL = """
WITH obs_end AS (SELECT CAST(max(ts) AS DATE) AS end_day FROM events),
per_user AS (
  SELECT user_id,
         CAST(min(ts) AS DATE) AS entry,
         CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
              AS DATE) AS conv_p,
         CAST(min(CASE WHEN event_type = 'signup' THEN ts END)
              AS DATE) AS conv_s
  FROM events GROUP BY user_id
),
dur AS (
  SELECT u.user_id,
         CASE
           WHEN u.conv_p IS NOT NULL AND u.conv_p >= u.entry
                AND (u.conv_s IS NULL OR u.conv_s < u.entry
                     OR u.conv_p <= u.conv_s)
             THEN date_diff('day', u.entry, u.conv_p)
           WHEN u.conv_s IS NOT NULL AND u.conv_s >= u.entry
             THEN date_diff('day', u.entry, u.conv_s)
           ELSE date_diff('day', u.entry, o.end_day) END AS t,
         CASE
           WHEN u.conv_p IS NOT NULL AND u.conv_p >= u.entry
                AND (u.conv_s IS NULL OR u.conv_s < u.entry
                     OR u.conv_p <= u.conv_s)
             THEN 1
           WHEN u.conv_s IS NOT NULL AND u.conv_s >= u.entry
             THEN 2
           ELSE 0 END AS cause
  FROM per_user u, obs_end o
),
grid AS (
  SELECT t, count(*) AS c_t,
         sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS d_p,
         sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS d_s
  FROM dur GROUP BY t
),
risk AS (
  SELECT t, c_t, d_p, d_s, d_p + d_s AS d_t,
         (SELECT count(*) FROM dur)
           - coalesce(sum(c_t) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS n_t
  FROM grid
),
terms AS (
  SELECT t, n_t, d_p, d_s, d_t,
         CASE WHEN d_t > 0 AND n_t > d_t THEN
           CAST(round(CAST(n_t - d_t AS DOUBLE) / n_t, 9)
                AS DECIMAL(18,9))
         WHEN d_t > 0 AND n_t = d_t THEN CAST(0 AS DECIMAL(18,9))
         ELSE CAST(1 AS DECIMAL(18,9)) END AS factor,
         CAST(round(CAST(d_p AS DOUBLE) / n_t, 9) AS DECIMAL(18,9))
           AS h_p,
         CAST(round(CAST(d_s AS DOUBLE) / n_t, 9) AS DECIMAL(18,9))
           AS h_s
  FROM risk
),
surv AS (
  SELECT t, n_t, d_p, d_s, d_t, h_p, h_s,
         list_reduce(
           list_prepend(
             CAST(1 AS DECIMAL(18,9)),
             list(factor) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           (acc, x) -> CAST(round(acc * x, 9) AS DECIMAL(18,9))) AS s
  FROM terms
),
inc AS (
  SELECT t, n_t, d_p, d_s, d_t, s,
         CAST(round(coalesce(lag(s) OVER (ORDER BY t),
                             CAST(1 AS DECIMAL(18,9))) * h_p, 9)
              AS DECIMAL(18,9)) AS i_p,
         CAST(round(coalesce(lag(s) OVER (ORDER BY t),
                             CAST(1 AS DECIMAL(18,9))) * h_s, 9)
              AS DECIMAL(18,9)) AS i_s
  FROM surv
)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_p AS BIGINT) AS d_purchase,
       CAST(d_s AS BIGINT) AS d_signup,
       CAST(s AS DOUBLE) AS survival,
       CAST(sum(i_p) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DECIMAL(28,9))
         AS cif_purchase,
       CAST(sum(i_s) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS DECIMAL(28,9))
         AS cif_signup
FROM inc WHERE d_t > 0
"""


@register("events_cumulative_incidence", oracle=_CIF_SQL)
def events_cumulative_incidence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS
    (built r12, staged r13) — the survival ladder's competing-events
    rung: KM draws one curve, Nelson-Aalen its hazard, log-rank tests
    two groups, RMST states the area; CIF answers the question those
    all dodge — when a user's first milestone can be EITHER a
    purchase OR a signup, what fraction has hit EACH by day t?
    Naive per-cause KM (censoring the other cause) overestimates
    both; the Aalen-Johansen estimator CIF_k(t) = Σ_{s<=t}
    S(s-)·d_ks/n_s is the standard fix, and CIF_p + CIF_s + S
    telescopes to 1 (asserted in the named test). Causes tie-break
    deterministically (same-day purchase wins).

    Exactness: the all-cause S is the KM 9dp decimal product fold
    VERBATIM; each cause hazard d_k/n is one rounded double division
    (the KM factor device); each increment round9(lag(S)·h_k) is a
    pinned decimal product; both CIFs are exact DECIMAL(28,9) window
    sums (the RMST/Nelson-Aalen device). No transcendental, no
    unrounded double.

    Scale shape: identical to KM/NA/RMST — one user-keyed aggregate
    (the only data-sized shuffle), a calendar-bounded two-cause
    duration grid, and value-level windows over ~30 rows at any data
    scale."""
    events = load_table(spark, sf_dir, "events")
    obs_end = events.agg(F.max("ts").cast("date").alias("end_day"))
    per_user = events.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("entry"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        .cast("date")
        .alias("conv_p"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
        .cast("date")
        .alias("conv_s"),
    )
    p_ok = F.col("conv_p").isNotNull() & (F.col("conv_p") >= F.col("entry"))
    s_ok = F.col("conv_s").isNotNull() & (F.col("conv_s") >= F.col("entry"))
    p_first = p_ok & (
        ~s_ok | (F.col("conv_p") <= F.col("conv_s"))
    )
    dur = per_user.crossJoin(F.broadcast(obs_end)).select(
        F.when(p_first, F.datediff("conv_p", "entry"))
        .when(s_ok, F.datediff("conv_s", "entry"))
        .otherwise(F.datediff("end_day", "entry"))
        .alias("t"),
        F.when(p_first, 1).when(s_ok, 2).otherwise(0).alias("cause"),
    )
    grid = dur.groupBy("t").agg(
        F.count("*").alias("c_t"),
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0)).alias("d_p"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0)).alias("d_s"),
    )
    total = dur.agg(F.count("*").alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(total)).select(
        "t", "c_t", "d_p", "d_s",
        (F.col("d_p") + F.col("d_s")).alias("d_t"),
        (
            F.col("n_total")
            - F.coalesce(F.sum("c_t").over(wprev), F.lit(0))
        ).alias("n_t"),
    )
    n_t, d_t = F.col("n_t"), F.col("d_t")
    terms = risk.select(
        "t", "n_t", "d_p", "d_s", "d_t",
        F.when(
            (d_t > 0) & (n_t > d_t),
            F.round((n_t - d_t).cast("double") / n_t, 9),
        )
        .when((d_t > 0) & (n_t == d_t), F.lit(0))
        .otherwise(F.lit(1))
        .cast("decimal(18,9)")
        .alias("factor"),
        F.round(F.col("d_p").cast("double") / n_t, 9)
        .cast("decimal(18,9)")
        .alias("h_p"),
        F.round(F.col("d_s").cast("double") / n_t, 9)
        .cast("decimal(18,9)")
        .alias("h_s"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlag = Window.orderBy("t")
    one = F.lit(1).cast("decimal(18,9)")
    surv = terms.select(
        "t", "n_t", "d_p", "d_s", "d_t", "h_p", "h_s",
        F.aggregate(
            F.collect_list("factor").over(wcum), one,
            lambda acc, x: F.round(acc * x, 9).cast("decimal(18,9)"),
        ).alias("s"),
    )
    s_prev = F.coalesce(F.lag("s").over(wlag), one)
    inc = surv.select(
        "t", "n_t", "d_p", "d_s", "d_t", "s",
        F.round(s_prev * F.col("h_p"), 9)
        .cast("decimal(18,9)")
        .alias("i_p"),
        F.round(s_prev * F.col("h_s"), 9)
        .cast("decimal(18,9)")
        .alias("i_s"),
    )
    return inc.where(d_t > 0).select(
        F.col("t").cast("long").alias("t_days"),
        n_t.cast("long").alias("n_at_risk"),
        F.col("d_p").cast("long").alias("d_purchase"),
        F.col("d_s").cast("long").alias("d_signup"),
        F.col("s").cast("double").alias("survival"),
        F.sum("i_p").over(wcum).cast("decimal(28,9)").alias("cif_purchase"),
        F.sum("i_s").over(wcum).cast("decimal(28,9)").alias("cif_signup"),
    )
