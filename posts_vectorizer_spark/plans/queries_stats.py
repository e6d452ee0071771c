"""Statistical-testing & sketch-merge wave 10 (SURVEY.md §2.21
extensions): an A/B two-proportion z-test, a chi-square independence
test, HyperLogLog sketch MERGE with union/intersection estimates, and
reset-segmented running sums.

All [Q]: exact DuckDB twins. The test statistics are closed-form
arithmetic over exact counts (no float-sum order anywhere: chi-square
cell terms round to decimals before summing); the HLL merge reuses wave
6's quadratically-mixed portable hash, so every merged register is
oracle-verified — the max-merge across sketches is THE property that
makes HLL distributable, and here it's value-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..sources import load_table, spread
from .registry import register

from .queries_sketch import _HLL_ALPHA, _HLL_M, _HLL_MAXBIT, _HLL_MULT


# ---------------------------------------------------------------------------
# A/B two-proportion z-test
# ---------------------------------------------------------------------------

_AB_Z_CRIT = 1.96  # two-sided 5%


@register(
    "events_ab_test",
    oracle=f"""
WITH per_sess AS (
  SELECT user_id % 2 AS variant,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
counts AS (
  SELECT variant,
         sum(saw) AS n,
         sum(saw * bought) AS x
  FROM per_sess GROUP BY variant
),
wide AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END) AS n0,
    max(CASE WHEN variant = 0 THEN x END) AS x0,
    max(CASE WHEN variant = 1 THEN n END) AS n1,
    max(CASE WHEN variant = 1 THEN x END) AS x1
  FROM counts
),
calc AS (
  SELECT n0, x0, n1, x1,
         CAST(x0 AS DOUBLE) / n0 AS r0,
         CAST(x1 AS DOUBLE) / n1 AS r1,
         CAST(x0 + x1 AS DOUBLE) / (n0 + n1) AS pp
  FROM wide
)
SELECT CAST(n0 AS BIGINT) AS exposed_a, CAST(x0 AS BIGINT) AS converted_a,
       CAST(n1 AS BIGINT) AS exposed_b, CAST(x1 AS BIGINT) AS converted_b,
       CAST(round(r0, 6) AS DOUBLE) AS rate_a,
       CAST(round(r1, 6) AS DOUBLE) AS rate_b,
       CAST(round((r0 - r1)
            / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)), 6) AS DOUBLE)
         AS z_stat,
       abs((r0 - r1)
           / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1)))
         > {_AB_Z_CRIT} AS significant
FROM calc
""",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test readout: split users into two variants (deterministic
    user_id parity — the hash-assignment every experimentation platform
    uses), compare per-user view->purchase conversion with the
    two-proportion pooled z-test, and flag two-sided 5% significance.

    Unit of analysis is the USER-DAY session (exposed = a user-day with
    >= 1 view; converted = that user-day also purchased), not raw event
    counts — a proportion needs successes to be a subset of trials. The
    original events-as-trials form divided purchase events by view
    events, and at sf0.1 variant 0 logs MORE purchases than views
    (10237 vs 9995), so the pooled "proportion" exceeded 1 and
    sqrt(pp*(1-pp)) went negative (DuckDB raised; Spark silently
    produced NaN). Whole-user grain is degenerate the other way on this
    fixture (every user eventually converts -> pp = 1, zero variance);
    user-day sessions give the real experimentation readout
    (fixture rates ~0.33-0.40 at every SF). Degenerate pp in {{0, 1}}
    would divide by zero identically in both engines.

    Scale shape: one (user, day)-keyed aggregate (map-side combinable
    flags) reduces the corpus to session bits, then FOUR counts; the z
    arithmetic is closed-form over those counts — exact integer inputs,
    identical double expression trees in both engines, no float-sum
    order anywhere. At 100 TB the cost is the scan, full stop.
    """
    e = load_table(spark, sf_dir, "events")
    per_sess = (
        e.groupBy("user_id", F.date_trunc("day", "ts"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("saw"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("bought"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "saw", "bought")
    )
    counts = per_sess.groupBy("variant").agg(
        F.sum("saw").alias("n"),
        F.sum(F.col("saw") * F.col("bought")).alias("x"),
    )
    wide = counts.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"),
    )
    r0 = F.col("x0").cast("double") / F.col("n0")
    r1 = F.col("x1").cast("double") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (r0 - r1) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("bigint").alias("exposed_a"),
        F.col("x0").cast("bigint").alias("converted_a"),
        F.col("n1").cast("bigint").alias("exposed_b"),
        F.col("x1").cast("bigint").alias("converted_b"),
        F.round(r0, 6).cast("double").alias("rate_a"),
        F.round(r1, 6).cast("double").alias("rate_b"),
        F.round(z, 6).cast("double").alias("z_stat"),
        (F.abs(z) > _AB_Z_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# chi-square independence test (lang x source)
# ---------------------------------------------------------------------------

@register(
    "text_chi2_lang_source",
    oracle="""
WITH obs AS (
  SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs),
rows_ AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY lang),
cols_ AS (SELECT source, sum(o) AS ct FROM obs GROUP BY source),
cells AS (
  SELECT CAST(round(
           (o.o - r.rt * c.ct / t.n) * (o.o - r.rt * c.ct / t.n)
           / (r.rt * c.ct / t.n), 6) AS DECIMAL(18,6)) AS term
  FROM obs o
  JOIN rows_ r ON r.lang = o.lang
  JOIN cols_ c ON c.source = o.source
  CROSS JOIN tot t
)
SELECT CAST(round(CAST(sum(term) AS DOUBLE), 6) AS DOUBLE) AS chi2,
       CAST((SELECT count(*) - 1 FROM rows_)
            * (SELECT count(*) - 1 FROM cols_) AS BIGINT) AS dof,
       CAST(count(*) AS BIGINT) AS n_cells
FROM cells
""",
)
def text_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the lang x source contingency
    table: are document languages distributed independently of their
    sources? — the corpus-composition audit a curation pipeline runs to
    detect source/language coupling before choosing mixture weights
    (`text_domain_mix_weights` assumes it knows this structure).

    Scale shape: the contingency table is one groupBy (|langs| x
    |sources| cells); marginals and the total are aggregates OVER that
    tiny table, joined back broadcast-style. Cell terms round to
    DECIMAL(18,6) before summing, so the statistic is partition-order
    insensitive. At 100 TB the only full-scan work is the first count.
    """
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(
        F.count("*").cast("double").alias("o")
    )
    tot = obs.agg(F.sum("o").alias("n"))
    rows_ = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    exp = F.col("rt") * F.col("ct") / F.col("n")
    term = (
        F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 6)
        .cast("decimal(18,6)")
    )
    cells = (
        obs.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term"))
    )
    nr = rows_.agg((F.count("*") - 1).alias("r1"))
    nc = cols_.agg((F.count("*") - 1).alias("c1"))
    return (
        cells.agg(
            F.round(F.sum("term").cast("double"), 6)
            .cast("double")
            .alias("chi2"),
            F.count("*").alias("n_cells"),
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "chi2",
            (F.col("r1") * F.col("c1")).cast("bigint").alias("dof"),
            "n_cells",
        )
    )


# ---------------------------------------------------------------------------
# HLL sketch merge: union / intersection of user sets
# ---------------------------------------------------------------------------

def _hll_regs_sql(pred: str, alias: str) -> str:
    """64 HLL registers over user_id for rows matching ``pred``."""
    return f"""
SELECT b.bucket,
       coalesce(max(r.rho), 0) AS {alias}
FROM (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket) b
LEFT JOIN (
  SELECT h % {_HLL_M} AS bucket,
         coalesce(
           list_min(list_filter(generate_series(0, {_HLL_MAXBIT}),
             k -> (CAST(floor((h // {_HLL_M}) / power(2, k)) AS BIGINT)
                   % 2) = 1)),
           {_HLL_MAXBIT}) + 1 AS rho
  FROM (
    SELECT (hb * hb) % {T.HASH_MOD} AS h
    FROM (SELECT (user_id * {_HLL_MULT} + 7919) % {T.HASH_MOD} AS hb
          FROM events WHERE {pred})
  )
) r ON r.bucket = b.bucket
GROUP BY b.bucket
"""


_HLL_EST = (
    f"round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M} / sum(power(2.0, -{{m}})), 6)"
)


@register(
    "events_hll_set_ops",
    oracle=f"""
WITH ca AS ({_hll_regs_sql("event_type = 'click'", 'ma')}),
cb AS ({_hll_regs_sql("event_type = 'view'", 'mb')}),
merged AS (
  SELECT ca.bucket, ca.ma, cb.mb, greatest(ca.ma, cb.mb) AS mu
  FROM ca JOIN cb ON ca.bucket = cb.bucket
),
est AS (
  SELECT CAST({_HLL_EST.format(m='ma')} AS DOUBLE) AS est_click,
         CAST({_HLL_EST.format(m='mb')} AS DOUBLE) AS est_view,
         CAST({_HLL_EST.format(m='mu')} AS DOUBLE) AS est_union
  FROM merged
),
ex AS (
  SELECT CAST(count(DISTINCT CASE WHEN event_type = 'click'
                                  THEN user_id END) AS BIGINT)
           AS exact_click,
         CAST(count(DISTINCT CASE WHEN event_type = 'view'
                                  THEN user_id END) AS BIGINT)
           AS exact_view,
         CAST(count(DISTINCT CASE WHEN event_type IN ('click', 'view')
                                  THEN user_id END) AS BIGINT)
           AS exact_union
  FROM events
)
SELECT est_click, est_view, est_union,
       CAST(round(est_click + est_view - est_union, 6) AS DOUBLE)
         AS est_intersection,
       exact_click, exact_view, exact_union
FROM est CROSS JOIN ex
""",
)
def events_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGE: sketch click-users and view-users separately,
    merge the two sketches by per-register max to estimate the UNION, and
    derive the intersection by inclusion-exclusion — the composable
    set-cardinality algebra (distinct-users-across-segments) that exact
    counting cannot parallelize cheaply. Exact values ride along so the
    oracle checks estimates AND truth.

    Scale shape: each sketch is 64 registers built map-side in one
    conditional aggregate; the MERGE is a 64-row join — this is the whole
    reason HLL exists: segment sketches compute once, and any union of
    segments is register-max arithmetic afterwards, no rescan. Register
    sums add exact binary fractions (order-free).
    """
    e = load_table(spark, sf_dir, "events")
    hb = (F.col("user_id") * _HLL_MULT + 7919) % T.HASH_MOD
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
    base = e.where(F.col("event_type").isin("click", "view")).select(
        "event_type", (h % _HLL_M).alias("bucket"), rho.alias("rho")
    )
    regs = base.groupBy("bucket").agg(
        F.max(
            F.when(F.col("event_type") == "click", F.col("rho"))
        ).alias("ra"),
        F.max(
            F.when(F.col("event_type") == "view", F.col("rho"))
        ).alias("rb"),
    )
    buckets = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    merged = buckets.join(regs, "bucket", "left").select(
        F.coalesce("ra", F.lit(0)).alias("ma"),
        F.coalesce("rb", F.lit(0)).alias("mb"),
    ).withColumn("mu", F.greatest("ma", "mb"))

    def est(col):
        return F.round(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / F.sum(F.pow(F.lit(2.0), -F.col(col))),
            6,
        ).cast("double")

    ests = merged.agg(
        est("ma").alias("est_click"),
        est("mb").alias("est_view"),
        est("mu").alias("est_union"),
    )
    ex = e.agg(
        F.count_distinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_click"),
        F.count_distinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("exact_view"),
        F.count_distinct(
            F.when(
                F.col("event_type").isin("click", "view"), F.col("user_id")
            )
        ).alias("exact_union"),
    )
    return ests.crossJoin(F.broadcast(ex)).select(
        "est_click",
        "est_view",
        "est_union",
        F.round(
            F.col("est_click") + F.col("est_view") - F.col("est_union"), 6
        )
        .cast("double")
        .alias("est_intersection"),
        "exact_click",
        "exact_view",
        "exact_union",
    )


# ---------------------------------------------------------------------------
# reset-segmented running sums
# ---------------------------------------------------------------------------

@register(
    "events_running_reset",
    oracle="""
WITH seg AS (
  SELECT user_id, ts, event_id, event_type, value,
         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS segment
  FROM events
)
SELECT user_id, ts, event_id, CAST(segment AS BIGINT) AS segment,
       CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6)))
              OVER (PARTITION BY user_id, segment ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_since_signup
FROM seg
""",
)
def events_running_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-segmented running sum: a per-user cumulative value total that
    RESETS at every signup event — the counter-with-reset shape behind
    "spend since last top-up", "errors since last deploy", and battery /
    quota meters. Two stacked windows express it declaratively: a
    cumulative flag-count assigns segment ids, then the running sum
    partitions by (user, segment).

    Scale shape: both windows order by the same (ts, event_id) within
    user, so Spark evaluates them on ONE user-keyed Exchange + sort (the
    segment id only refines the partition key of the second frame —
    no second shuffle needed, verified by the single-Exchange plan
    pattern of `events_scd2_versions`). Decimal summands keep the
    running values exact under any partitioning.
    """
    e = load_table(spark, sf_dir, "events")
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = e.withColumn(
        "segment",
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).over(w1),
    )
    w2 = (
        Window.partitionBy("user_id", "segment")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "user_id",
        "ts",
        "event_id",
        "segment",
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .over(w2)
        .cast("double")
        .alias("running_since_signup"),
    )


_CUPED_SPLIT = "2024-01-16"  # pre-period = [start, split), post = [split, end)


@register(
    "events_ab_cuped",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS variant,
         sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
         sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}'
                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
gmom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
         sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
  FROM per_user
),
theta AS (
  SELECT n, sx,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS th
  FROM gmom
)
SELECT v.variant,
       CAST(v.n_users AS BIGINT) AS n_users,
       CAST(round(CAST(v.sy_g AS DOUBLE) / v.n_users / 100.0, 6) AS DOUBLE)
         AS mean_post,
       CAST(round((CAST(v.sy_g AS DOUBLE) / v.n_users
                   - t.th * (CAST(v.sx_g AS DOUBLE) / v.n_users
                             - CAST(t.sx AS DOUBLE) / t.n)) / 100.0, 6)
            AS DOUBLE) AS mean_post_cuped,
       CAST(round(t.th, 6) AS DOUBLE) AS theta
FROM (SELECT variant, count(*) AS n_users, sum(x) AS sx_g, sum(y) AS sy_g
      FROM per_user GROUP BY variant) v
CROSS JOIN theta t
ORDER BY v.variant
""",
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al. 2013,
    'Improving the Sensitivity of Online Controlled Experiments'): adjust
    each variant's post-period mean by theta x its pre-period deviation,
    theta = cov(pre, post) / var(pre) over ALL users — pre-period
    behavior is experiment-independent, so the adjustment removes
    between-user variance without biasing the contrast. Complements
    events_ab_test (raw two-proportion z) with the estimator production
    experimentation systems actually ship.

    Exactness: linear moments are int64 cents sums; the SQUARED moments
    go through DECIMAL(19,0) products (an int64 x*x wraps once a
    per-user cents sum passes ~3e9 — DECIMAL sums stay exact to ~1e38,
    and Spark/DuckDB agree on decimal arithmetic where int64 overflow
    diverges: Spark wraps, DuckDB promotes). theta/means are then ONE
    shared double expression over exact values — identical IEEE ops in
    both engines, rounded at 6. Scale shape: one user-keyed shuffle for the
    per-user pre/post split, a 1-row global-moments broadcast (J5), and
    a 2-row variant aggregate — no second pass over events."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).alias("y"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    glob = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    theta = glob.select(
        "n", "sx",
        (
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (d("n") * d("sxx") - d("sx") * d("sx"))
        ).alias("th"),
    )
    variants = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("sx_g"),
        F.sum("y").alias("sy_g"),
    )
    out = variants.crossJoin(F.broadcast(theta))
    return out.select(
        "variant",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(d("sy_g") / F.col("n_users") / 100.0, 6)
        .cast("double")
        .alias("mean_post"),
        F.round(
            (
                d("sy_g") / F.col("n_users")
                - F.col("th")
                * (d("sx_g") / F.col("n_users") - d("sx") / F.col("n"))
            )
            / 100.0,
            6,
        )
        .cast("double")
        .alias("mean_post_cuped"),
        F.round(F.col("th"), 6).cast("double").alias("theta"),
    ).orderBy("variant")


# ---------------------------------------------------------------------------
# 2D skyline (Pareto frontier) with grid pruning
# ---------------------------------------------------------------------------

@register(
    "rel_skyline_pareto",
    oracle="""
WITH per_price AS (
  SELECT p_retailprice, max(p_size) AS best_size
  FROM part GROUP BY p_retailprice
),
flagged AS (
  SELECT p_retailprice, best_size,
         max(best_size) OVER (
           ORDER BY p_retailprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
  FROM per_price
),
frontier AS (
  SELECT p_retailprice, best_size
  FROM flagged
  WHERE run_max IS NULL OR best_size > run_max
)
SELECT f.p_retailprice,
       CAST(f.best_size AS INT) AS p_size,
       CAST(count(*) AS BIGINT) AS n_parts
FROM frontier f
JOIN part p
  ON p.p_retailprice = f.p_retailprice AND p.p_size = f.best_size
GROUP BY f.p_retailprice, f.best_size
ORDER BY f.p_retailprice
""",
)
def rel_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (reference analytics surface: the
    "best trade-off" scan every catalog UI runs): the set of parts no other
    part dominates, minimizing p_retailprice while maximizing p_size.
    Dominance: p dominates q iff p is no more expensive AND no smaller,
    strictly better on at least one axis.

    Spark-first shape (the 2D skyline is a SORT, not an O(n^2) anti-join):
    collapse to one row per distinct price (max size — same-price smaller
    parts are dominated within the group), then a single ordered running
    max: a price is on the frontier iff its best size strictly exceeds the
    running max over all strictly-cheaper prices.

    100 TB path: before the ordered pass, a coarse price-bucket grid
    (floor(price)) computes per-bucket max sizes — a tiny broadcast — and
    every row whose size <= the running bucket max over strictly-cheaper
    buckets is provably dominated and pruned map-side. The global window
    then sorts only the surviving candidate band (bounded by the frontier's
    staircase width), not the table. Pruning is conservative: any pruned
    row's dominator chain terminates at a surviving row, so the running max
    over survivors equals the running max over all rows and the result is
    exact (pinned by the crafted-fixture test and the DuckDB twin, which
    skips pruning entirely).
    """
    parts = load_table(spark, sf_dir, "part").select(
        "p_retailprice", "p_size"
    )
    per_price = parts.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    # Grid prune: per-bucket best size, running max over strictly-cheaper
    # buckets (floor buckets => every price in a lower bucket is strictly
    # smaller). Tiny relation: one row per distinct floor(price).
    buckets = per_price.groupBy(
        F.floor("p_retailprice").alias("bucket")
    ).agg(F.max("best_size").alias("bucket_best"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = buckets.select(
        "bucket", F.max("bucket_best").over(wb).alias("prev_bucket_max")
    )
    survivors = (
        per_price.join(
            F.broadcast(cum),
            F.floor("p_retailprice") == F.col("bucket"),
        )
        .where(
            F.col("prev_bucket_max").isNull()
            | (F.col("best_size") > F.col("prev_bucket_max"))
        )
        .select("p_retailprice", "best_size")
    )
    # Exact pass over the pruned candidate band only.
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        survivors.withColumn("run_max", F.max("best_size").over(w))
        .where(F.col("run_max").isNull() | (F.col("best_size") > F.col("run_max")))
        .select("p_retailprice", "best_size")
    )
    out = (
        frontier.join(
            parts,
            (parts["p_retailprice"] == frontier["p_retailprice"])
            & (parts["p_size"] == frontier["best_size"]),
        )
        .groupBy(frontier["p_retailprice"], frontier["best_size"])
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            frontier["p_retailprice"],
            F.col("best_size").cast("int").alias("p_size"),
            F.col("n_parts").cast("bigint").alias("n_parts"),
        )
        .orderBy("p_retailprice")
    )
    return out


# ---------------------------------------------------------------------------
# grouped weighted median
# ---------------------------------------------------------------------------

@register(
    "rel_weighted_median",
    oracle="""
WITH per_val AS (
  SELECT l_returnflag, l_extendedprice,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
cum AS (
  SELECT l_returnflag, l_extendedprice, w,
         sum(w) OVER (
           PARTITION BY l_returnflag ORDER BY l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM per_val
)
SELECT l_returnflag,
       CAST(min(l_extendedprice) AS DOUBLE) AS weighted_median,
       CAST(max(totw) AS DOUBLE) AS total_qty
FROM cum
WHERE 2 * cumw >= totw
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def rel_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted median: the l_extendedprice at which half the
    total l_quantity mass sits at-or-below, per l_returnflag (the
    inventory-weighted "typical price" readout; lower weighted median —
    smallest value whose cumulative weight reaches half).

    Shape: collapse to one row per (group, value) with an exact DECIMAL
    weight sum (one shuffle), then a per-group ordered cumulative-weight
    window and a min() over values where 2*cum >= total. Exactly one
    exchange on the group key serves the groupBy, both window frames, and
    the final agg. Weights stay DECIMAL end-to-end, so the half-mass
    boundary (2*cumw == totw exactly at a tie) is bit-identical across
    engines — no float accumulation anywhere.

    100 TB: the window sorts |distinct values| rows per group, the classic
    exact-median bound. The engine's approximate path for wide groups is
    rel_stats_quantiles' percentile_approx (mergeable sketch); this query
    is the exact twin.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    per_val = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = per_val.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("w").over(wcum).alias("cumw"),
        F.sum("w").over(wtot).alias("totw"),
    )
    return (
        cum.where(F.lit(2) * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").cast("double").alias("weighted_median"),
            F.max("totw").cast("double").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (staged r6, introduced r7)
# ---------------------------------------------------------------------------

_BOOT_B = 200                 # bootstrap replicates
_BOOT_MULT = 2_654_435_761    # Knuth multiplicative constant (wave-6 hash)
# Poisson(1) cumulative probabilities P(X <= k), k = 0..6; weights cap at 7.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)
_BOOT_LO_RANK = 5     # 2.5th percentile of 200 sorted means (floor(0.025*B))
_BOOT_HI_RANK = 196   # 97.5th percentile (ceil(0.975*B) + 1)


def _pois_case_sql(u: str) -> str:
    branches = "\n         ".join(
        f"WHEN {u} < {p} THEN {k}" for k, p in enumerate(_POIS_CDF)
    )
    return f"CASE {branches}\n         ELSE 7 END"


@register(
    "rel_bootstrap_ci",
    oracle=f"""
WITH pop AS (
  SELECT l_orderkey * 8 + l_linenumber AS id,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS x_cents
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '2001-01-01'
),
pairs AS (
  SELECT p.x_cents, b.b,
         ((p.id * 211 + b.b) % {T.HASH_MOD} * {_BOOT_MULT} + 7919)
           % {T.HASH_MOD} AS hb
  FROM pop p, (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
),
weighted AS (
  SELECT b, x_cents,
         {_pois_case_sql(f"((hb * hb) % {T.HASH_MOD} + 1.0) / {T.HASH_MOD + 1}.0")} AS w
  FROM pairs
),
reps AS (
  SELECT b, sum(w * x_cents) AS swx, sum(w) AS sw
  FROM weighted GROUP BY b HAVING sum(w) > 0
),
means AS (
  SELECT round(swx / (100.0 * sw), 6) AS mean_b,
         row_number() OVER (ORDER BY round(swx / (100.0 * sw), 6), b) AS rk
  FROM reps
),
pop_stat AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         round(sum(x_cents) / (100.0 * count(*)), 6) AS point_mean
  FROM pop
)
SELECT s.n_rows, s.point_mean,
       (SELECT mean_b FROM means WHERE rk = {_BOOT_LO_RANK}) AS ci_lo,
       (SELECT mean_b FROM means WHERE rk = {_BOOT_HI_RANK}) AS ci_hi,
       (SELECT CAST(count(*) AS BIGINT) FROM means) AS n_replicates
FROM pop_stat s
""",
)
def rel_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for a mean — THE bootstrap that works at
    100 TB: classical resampling needs B global samples-with-replacement
    (B full shuffles of the dataset); the Poisson trick replaces each
    row's resample count with an independent Poisson(1) draw, so ONE
    pass emits (replicate, weight) contributions map-side and the only
    shuffle is the B-group aggregation (200 groups, map-side combined).

    Like rel_dp_noisy_counts, this is an ARITHMETIC CHECK of the
    mechanism, not statistical-grade randomness: the per-(row, replicate)
    uniform comes from the wave-6 quadratically-mixed portable hash so
    the oracle can verify every draw, weight, replicate mean, and the
    percentile cut exactly. Production swaps a counter-based RNG
    (Philox-style) for the hash — plan shape, exactness discipline, and
    the percentile convention (sorted means, ranks 5/196 of 200 = 2.5th
    and 97.5th) unchanged.

    Exactness: weights and cents are integers, so replicate sums are
    exact; the ONLY doubles are the final quotients, rounded to 6 in both
    engines; the rank order ties-break on replicate id (total order).

    Scale shape: explode ×B happens map-side with no row wider than
    (int, int, int); the aggregate is 200 groups with partial combine;
    the percentile cut sorts B values, not data. At 10^9 input rows and
    B=200 this is 2·10^11 skinny intermediate rows — streamed, never
    materialized, exactly how production Poisson bootstraps run."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    pop = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x_cents"),
    )
    pairs = pop.select(
        "id",
        "x_cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    hb = (
        (F.col("id") * 211 + F.col("b")) % T.HASH_MOD * _BOOT_MULT + 7919
    ) % T.HASH_MOD
    u = ((hb * hb) % T.HASH_MOD + F.lit(1.0)) / F.lit(float(T.HASH_MOD + 1))
    w = F.lit(7)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], k).otherwise(w)
    reps = (
        pairs.select("b", "x_cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x_cents")).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
    )
    mean_b = F.round(F.col("swx") / (100.0 * F.col("sw")), 6)
    means = reps.select(
        mean_b.alias("mean_b"),
        F.row_number()
        .over(Window.orderBy(mean_b, F.col("b")))
        .alias("rk"),
    )
    ci = means.agg(
        F.max(F.when(F.col("rk") == _BOOT_LO_RANK, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == _BOOT_HI_RANK, F.col("mean_b"))).alias("ci_hi"),
        F.count("*").cast("bigint").alias("n_replicates"),
    )
    pop_stat = pop.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("x_cents") / (100.0 * F.count("*")), 6).alias("point_mean"),
    )
    return pop_stat.join(F.broadcast(ci))


# ---------------------------------------------------------------------------
# PSI distribution-drift monitor (staged r7 -> r8)
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16"   # events fixture spans 2024-01; ref = first half
_PSI_BUCKETS = 10
_PSI_ALERT = 0.1            # industry convention: <0.1 stable, >0.25 major

# Shared with stream_psi_drift_drain: the readout is a pure function of
# the per-bucket (n_ref, n_cur) counts, so the single-pass and
# stream-maintained forms verify against the SAME whole-corpus oracle.
_PSI_DRIFT_SQL = f"""
WITH base AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         ts < TIMESTAMP '{_PSI_SPLIT}' AS is_ref
  FROM events
),
ref_stats AS (
  SELECT min(v) AS mn, max(v) AS mx FROM base WHERE is_ref
),
bucketed AS (
  SELECT least({_PSI_BUCKETS - 1},
               greatest(0, ((v - mn) * {_PSI_BUCKETS}) // (mx - mn + 1)))
           AS bucket,
         is_ref
  FROM base, ref_stats
),
counts AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM bucketed GROUP BY bucket
),
totals AS (
  SELECT bucket, n_ref, n_cur,
         sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc
  FROM counts
),
terms AS (
  SELECT bucket, n_ref, n_cur,
         CAST(n_ref AS DOUBLE) / tr AS p,
         CAST(n_cur AS DOUBLE) / tc AS q,
         CASE WHEN n_ref > 0 AND n_cur > 0
              THEN CAST(round((CAST(n_ref AS DOUBLE) / tr
                               - CAST(n_cur AS DOUBLE) / tc)
                              * ln((CAST(n_ref AS DOUBLE) / tr)
                                   / (CAST(n_cur AS DOUBLE) / tc)), 6)
                        AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END AS term
  FROM totals
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_ref, n_cur,
       CAST(round(p, 6) AS DOUBLE) AS share_ref,
       CAST(round(q, 6) AS DOUBLE) AS share_cur,
       CAST(term AS DOUBLE) AS psi_term,
       CAST(sum(term) OVER () AS DOUBLE) AS psi_total,
       sum(term) OVER () > {_PSI_ALERT} AS drifted
FROM terms
"""


@register("events_psi_drift", oracle=_PSI_DRIFT_SQL)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor — the standard pre-retrain
    check that a feature's serving distribution still matches the training
    reference. Reference window = the fixture's first half; PSI =
    sum((p_i - q_i) * ln(p_i / q_i)) over 10 equal-width
    buckets whose bounds come from the REFERENCE min/max (integer
    micro-units, so bucket assignment is exact in both engines; current
    rows outside the reference range clamp to the edge buckets, the
    standard convention). Empty-cell terms are excluded (the no-smoothing
    convention); each term rounds to DECIMAL(18,6) before the sum — the
    chi2 exactness pattern — so the statistic is partition-order free and
    the only cross-engine FP surface is ln() over identical doubles,
    absorbed by the rounding.

    Scale shape: the reference min/max is a scalar broadcast (J5); bucket
    assignment is in-row arithmetic; ONE 10-group aggregate (map-side
    combinable) reduces the corpus, and the PSI window runs over 10
    rows. At 100 TB this is scan-bound, exactly like
    a production drift job over daily feature logs."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
        (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_ref"),
    )
    ref_stats = base.where("is_ref").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    bucket = F.least(
        F.lit(_PSI_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"((v - mn) * {_PSI_BUCKETS}) div (mx - mn + 1)"),
        ),
    )
    counts = (
        base.crossJoin(F.broadcast(ref_stats))
        .select(bucket.alias("bucket"), "is_ref")
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
        )
    )
    return psi_readout(counts)


def psi_bucket_counts(
    vals: DataFrame, mn: int | None, mx: int | None, name: str
) -> DataFrame:
    """(bucket, ``name``) counts of the micro-unit column ``v`` over
    _PSI_BUCKETS equal-width buckets on PINNED reference bounds
    ``mn``/``mx`` (out-of-range values clamp to the edge buckets). With
    the bounds frozen, the counts are a pure additive delta: the
    streaming drain merges its current-side counts batch by batch and
    reads the reference side off the static window. An empty reference
    window leaves the bounds NULL, and every row lands in bucket 0
    (``greatest`` skips the NULL), as in the oracle."""
    mn, mx = ("CAST(NULL AS BIGINT)" if b is None else b for b in (mn, mx))
    bucket = F.least(
        F.lit(_PSI_BUCKETS - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"((v - {mn}) * {_PSI_BUCKETS}) div ({mx} - {mn} + 1)"),
        ),
    )
    return (
        vals.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias(name))
    )


def psi_readout(counts: DataFrame) -> DataFrame:
    """PSI terms + total from a per-bucket (bucket, n_ref, n_cur) counts
    relation — a pure function of the counts, shared by the single-pass
    form above and the stream-maintained form (stream_psi_drift_drain),
    so both verify against the SAME whole-corpus oracle.

    Totals ride a full-frame window over the 10-bucket counts instead of
    a second aggregate: the r7 scale-trend measurement caught the
    two-aggregate form recomputing the counts (and their events scan)."""
    w_all = Window.partitionBy()
    # an empty window's shares are NULL, as DuckDB's x / 0 is
    p = F.try_divide(F.col("n_ref").cast("double"), F.col("tr"))
    q = F.try_divide(F.col("n_cur").cast("double"), F.col("tc"))
    term = (
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round((p - q) * F.log(p / q), 6),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,6)")
    )
    return (
        counts.withColumn("tr", F.sum("n_ref").over(w_all))
        .withColumn("tc", F.sum("n_cur").over(w_all))
        .withColumn("term", term)
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            F.round(p, 6).alias("share_ref"),
            F.round(q, 6).alias("share_cur"),
            F.col("term").cast("double").alias("psi_term"),
            F.sum("term").over(w_all).cast("double").alias("psi_total"),
            (F.sum("term").over(w_all) > _PSI_ALERT).alias("drifted"),
        )
    )


# ---------------------------------------------------------------------------
# embedding dimension covariance / correlation matrix (built r8, staged r9)
# ---------------------------------------------------------------------------

_COV_D = 16  # leading dims profiled (full matrix = swap in the array length)

_DIM_COVARIANCE_SQL = f"""
WITH base AS (
  SELECT embedding FROM embeddings WHERE len(embedding) >= {_COV_D}
),
terms AS (
  SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
         CAST(round(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)
                    * CAST(embedding[CAST(j.j AS INT)] AS DOUBLE), 8)
              AS DECIMAL(27,8)) AS xy,
         CAST(round(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE), 7)
              AS DECIMAL(22,7)) AS xi,
         CAST(round(CAST(embedding[CAST(j.j AS INT)] AS DOUBLE), 7)
              AS DECIMAL(22,7)) AS xj
  FROM base, range(1, {_COV_D + 1}) i(i), range(1, {_COV_D + 1}) j(j)
  WHERE j.j >= i.i
),
stats AS (
  SELECT i, j, count(*) AS n, sum(xy) AS sxy, sum(xi) AS sxi, sum(xj) AS sxj
  FROM terms GROUP BY i, j
),
cov AS (
  SELECT i, j, n,
         (CAST(sxy AS DOUBLE)
          - CAST(sxi AS DOUBLE) * CAST(sxj AS DOUBLE) / n) / (n - 1) AS cov
  FROM stats WHERE n >= 2
),
diag AS (SELECT i, cov AS var FROM cov WHERE i = j)
SELECT c.i AS dim_i, c.j AS dim_j, CAST(c.n AS BIGINT) AS n,
       -- "+ 0.0" canonicalizes IEEE signed zero: round() of a tiny
       -- negative quotient yields -0.0 (value-equal to +0.0 but a
       -- different serialized sign bit, hence a different driver hash —
       -- the r9 CORRECTNESS fail at cell (6,10)); -0.0 + 0.0 = +0.0
       -- under round-to-nearest, identically in both engines.
       CAST(round(c.cov, 6) + 0.0 AS DOUBLE) AS cov,
       CAST(CASE WHEN di.var > 0 AND dj.var > 0
                 THEN round(c.cov / sqrt(di.var * dj.var), 6) + 0.0 END
            AS DOUBLE) AS corr
FROM cov c JOIN diag di ON di.i = c.i JOIN diag dj ON dj.i = c.j
"""


@register("sim_dim_covariance", oracle=_DIM_COVARIANCE_SQL)
def sim_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance + correlation matrix of the leading 16 embedding
    dimensions — the embedding-health profile behind whitening, PCA
    dimensionality decisions, and anisotropy diagnosis (a trained
    embedding whose dims are highly correlated wastes capacity; random
    fixtures read near-diagonal). Output: one row per unordered dim pair
    (i <= j) with n, cov, corr.

    Exactness: every sufficient statistic is an exact DECIMAL sum of
    per-element ROUNDED contributions (xy to 8dp, x to 7dp) — the only
    doubles are the final covariance/correlation quotients, computed
    with the identical expression shape in both engines, so nothing is
    partition-order dependent.

    Scale shape (the 100 TB argument): NO self-join and NO per-vector
    explode-join — each row emits its D*(D+1)/2 = 136
    (i, j, products) terms from one nested-transform expression entirely
    inside codegen, and the ONLY exchange is the map-side-combinable
    groupBy over that fixed tiny key space. Sufficient statistics then
    reduce to a 16x16 matrix regardless of corpus size; the
    corr normalization joins the 136-row stats relation against its own
    16-row diagonal (broadcast). Full-width matrices at higher D trade
    per-row term count quadratically — at D=256 move the same fold into
    the mapInArrow Gram-accumulate kernel (grouped_arrow_vector_stats
    pattern) and keep THIS query as its cross-engine witness."""
    D = _COV_D
    # r12: rebalance the single-split scan before the 136-struct term
    # explosion + decimal rounding — the CPU-heavy narrow stage otherwise
    # runs on one core (sources.spread; guide §2.5 input skew).
    emb = spread(
        load_table(spark, sf_dir, "embeddings").where(
            F.size("embedding") >= D
        )
    )
    # r13 (VERDICT item 5 — the 6x CPU bill): the per-pair struct used to
    # round+decimal-cast x_i and x_j FRESH for every (i,j), i.e. 2*136
    # interpreted HOF decimal allocations per row where 16 suffice. The
    # single-element rounds are hoisted into one 16-entry r7 array per
    # row and the pair struct just indexes it — identical values
    # (round(x,7) does not depend on the pair), ~5x fewer decimal ops in
    # the interpreted lambda. xy is a product of the RAW doubles, so it
    # stays per-pair by definition.
    terms = emb.select(
        "embedding",
        F.expr(
            f"transform(slice(embedding, 1, {D}), x -> "
            "CAST(round(CAST(x AS DOUBLE), 7) AS DECIMAL(22,7)))"
        ).alias("r7"),
    ).select(
        F.explode(
            F.expr(
                f"""
      flatten(transform(sequence(1, {D}), i ->
        transform(sequence(i, {D}), j -> struct(
          CAST(i AS INT) AS i, CAST(j AS INT) AS j,
          CAST(round(CAST(element_at(embedding, i) AS DOUBLE)
                     * CAST(element_at(embedding, j) AS DOUBLE), 8)
               AS DECIMAL(27,8)) AS xy,
          element_at(r7, i) AS xi,
          element_at(r7, j) AS xj))))
    """
            )
        ).alias("t")
    ).select("t.*")
    stats = terms.groupBy("i", "j").agg(
        F.count("*").alias("n"),
        F.sum("xy").alias("sxy"),
        F.sum("xi").alias("sxi"),
        F.sum("xj").alias("sxj"),
    )
    from ..cache import persist_tracked

    # persisted: the 136-row cov relation feeds three consumers (output,
    # both diagonal sides) — without it each one re-runs the corpus scan
    # + term explode (the plan probe showed 3 shuffle exchanges)
    cov = persist_tracked(
        stats.where(F.col("n") >= 2).select(
            "i",
            "j",
            "n",
            (
                (
                    F.col("sxy").cast("double")
                    - F.col("sxi").cast("double")
                    * F.col("sxj").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias("cov"),
        )
    )
    diag = cov.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("var")
    )
    di = diag.select(F.col("d").alias("di_d"), F.col("var").alias("var_i"))
    dj = diag.select(F.col("d").alias("dj_d"), F.col("var").alias("var_j"))
    return (
        cov.join(F.broadcast(di), cov["i"] == di["di_d"])
        .join(F.broadcast(dj), cov["j"] == dj["dj_d"])
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("n").cast("bigint").alias("n"),
            # + 0.0 canonicalizes -0.0 to +0.0 (matches the oracle's
            # identical canonicalization; see _DIM_COVARIANCE_SQL note)
            (F.round("cov", 6) + F.lit(0.0)).cast("double").alias("cov"),
            F.when(
                (F.col("var_i") > 0) & (F.col("var_j") > 0),
                F.round(
                    F.col("cov") / F.sqrt(F.col("var_i") * F.col("var_j")), 6
                )
                + F.lit(0.0),
            )
            .cast("double")
            .alias("corr"),
        )
    )


@register("stream_psi_drift_drain", oracle=_PSI_DRIFT_SQL)
def stream_psi_drift_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift maintenance with a driver row: the
    reference-window stats (min/max micro-units, bucket bounds) are
    PINNED from the static reference half — exactly the production
    shape, where training-time bounds are frozen and serving traffic
    streams — then the CURRENT half streams in TWO forced micro-batches
    (two source files, maxFilesPerTrigger=1), each additively merging
    its per-bucket count delta (psi_bucket_counts) into the standing
    state (streaming/worker.py::merge_stream, exactly-once via the merge
    sink's batch-id ledger). The final PSI reads out from (static ref
    counts, streamed cur counts) through the SAME psi_readout as the
    batch form; count addition is commutative, so the batch split cannot
    change the result — the oracle is events_psi_drift's whole-corpus
    SQL, making the drift monitor's merge property driver-hash-checked
    end to end. At 100 TB the per-batch cost is one map-side-combinable
    10-key groupBy plus O(touched buckets) of a 10-row state table."""
    from ..streaming.drain import state_drain

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v"),
        (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_ref"),
    )
    ref = base.where("is_ref")
    mn, mx = ref.agg(F.min("v"), F.max("v")).first()

    cur = state_drain(
        spark,
        base.where(~F.col("is_ref")).select("v"),
        "v",
        lambda b: psi_bucket_counts(b, mn, mx, "n_cur"),
        ["bucket"],
    )
    counts = (
        psi_bucket_counts(ref, mn, mx, "n_ref")
        .join(cur, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    return psi_readout(counts)


# ---------------------------------------------------------------------------
# Rank-correlation eval: Spearman rho (all items, linear) + Kendall
# tau-b over the top-K head (bounded pairs)
# ---------------------------------------------------------------------------

_RANKCORR_TOPK = 30

_RANKCORR_SQL = f"""
WITH it AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS a,
         CAST({T.token_count_sql('text')} AS BIGINT) AS b
  FROM documents
),
rk AS (
  SELECT source, a, b,
         2 * rank() OVER (PARTITION BY source ORDER BY a)
           + count(*) OVER (PARTITION BY source, a) - 1 AS ra,
         2 * rank() OVER (PARTITION BY source ORDER BY b)
           + count(*) OVER (PARTITION BY source, b) - 1 AS rb
  FROM it
),
sp AS (
  SELECT source, count(*) AS n, sum(ra) AS sx, sum(rb) AS sy,
         sum(ra * rb) AS sxy, sum(ra * ra) AS sxx, sum(rb * rb) AS syy
  FROM rk GROUP BY source
),
rho AS (
  SELECT source, n,
         CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
           CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
         END AS spearman_rho
  FROM sp
),
topk AS (
  SELECT source, doc_id, a, b FROM (
    SELECT source, doc_id, a, b,
           row_number() OVER (
             PARTITION BY source ORDER BY a DESC, doc_id
           ) AS rn
    FROM it
  ) t WHERE rn <= {_RANKCORR_TOPK}
),
pairs AS (
  SELECT i.source,
         CASE WHEN (i.a - j.a) * (i.b - j.b) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (i.a - j.a) * (i.b - j.b) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN i.a = j.a THEN 1 ELSE 0 END AS tie_a,
         CASE WHEN i.b = j.b THEN 1 ELSE 0 END AS tie_b
  FROM topk i JOIN topk j ON i.source = j.source AND i.doc_id < j.doc_id
),
tau AS (
  SELECT source, count(*) AS n0, sum(conc) AS c, sum(disc) AS d,
         sum(tie_a) AS n1, sum(tie_b) AS n2
  FROM pairs GROUP BY source
)
SELECT r.source, CAST(r.n AS BIGINT) AS n_items, r.spearman_rho,
       CAST(t.c AS BIGINT) AS concordant, CAST(t.d AS BIGINT) AS discordant,
       CASE WHEN t.n0 > t.n1 AND t.n0 > t.n2 THEN
         CAST(t.c - t.d AS DOUBLE)
         / sqrt(CAST((t.n0 - t.n1) * (t.n0 - t.n2) AS DOUBLE))
       END AS tau_b
FROM rho r JOIN tau t ON r.source = t.source
"""


@register("text_rank_correlation_eval", oracle=_RANKCORR_SQL)
def text_rank_correlation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-correlation eval harness (built r9, staged r10): per source,
    how well does the cheap ranking signal (n_chars metadata) agree
    with the computed one (portable token count)? Two estimators with
    deliberately different scale shapes:

    - SPEARMAN rho over ALL items — Pearson over tie-averaged ranks on
      the exact 2x-rank integer grid (2*rank + ties - 1, so .5 average
      ranks never touch floats); every sum is an exact BIGINT and the
      only FP is one final quotient with IEEE-exact sqrt. Linear: two
      rank windows + one map-side-combinable aggregate. Int64-exact up
      to ~38k items per group (4n^4 < 2^63); beyond that, pre-scale the
      ranks or lift the sums to DECIMAL(38).
    - KENDALL tau-b over the TOP-K=30 head per group (tau@k, the form
      ranking evals actually report) — concordant/discordant/tie pair
      counts over a BOUNDED K(K-1)/2 = 435-pair self-join, so the
      quadratic term is a constant at any corpus scale.

    Both engines state the final quotients in the same operator order
    (num / (sqrt(da) * sqrt(db))), so the doubles are bit-identical.
    Degenerate groups (all-tied axis) yield NULL, never a div-by-zero.

    Scale shape: two source-keyed sort windows + one aggregate for rho;
    a 30-row-per-group self-join for tau. No data-sized pair join
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    it = docs.select(
        "source", "doc_id",
        F.col("n_chars").cast("long").alias("a"),
        T.token_count("text").cast("long").alias("b"),
    )
    rk = it.select(
        "source",
        (
            2 * F.rank().over(Window.partitionBy("source").orderBy("a"))
            + F.count("*").over(Window.partitionBy("source", "a")) - 1
        ).cast("long").alias("ra"),
        (
            2 * F.rank().over(Window.partitionBy("source").orderBy("b"))
            + F.count("*").over(Window.partitionBy("source", "b")) - 1
        ).cast("long").alias("rb"),
    )
    sp = rk.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ra").alias("sx"), F.sum("rb").alias("sy"),
        F.sum(F.col("ra") * F.col("rb")).alias("sxy"),
        F.sum(F.col("ra") * F.col("ra")).alias("sxx"),
        F.sum(F.col("rb") * F.col("rb")).alias("syy"),
    )
    da = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    db = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    rho = sp.select(
        "source",
        F.col("n").alias("n_items"),
        F.when(
            (da > 0) & (db > 0),
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.sqrt(da.cast("double")) * F.sqrt(db.cast("double"))),
        ).alias("spearman_rho"),
    )
    topk = (
        it.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("a").desc(), F.col("doc_id")
                )
            ),
        )
        .filter(F.col("rn") <= _RANKCORR_TOPK)
        .drop("rn")
    )
    i, j = topk.alias("i"), topk.alias("j")
    sgn = (F.col("i.a") - F.col("j.a")) * (F.col("i.b") - F.col("j.b"))
    pairs = i.join(
        j,
        (F.col("i.source") == F.col("j.source"))
        & (F.col("i.doc_id") < F.col("j.doc_id")),
    ).select(
        F.col("i.source").alias("source"),
        F.when(sgn > 0, 1).otherwise(0).alias("conc"),
        F.when(sgn < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("i.a") == F.col("j.a"), 1).otherwise(0).alias("tie_a"),
        F.when(F.col("i.b") == F.col("j.b"), 1).otherwise(0).alias("tie_b"),
    )
    tau = pairs.groupBy("source").agg(
        F.count("*").alias("n0"),
        F.sum("conc").cast("long").alias("c"),
        F.sum("disc").cast("long").alias("d"),
        F.sum("tie_a").alias("n1"),
        F.sum("tie_b").alias("n2"),
    )
    n0, n1, n2 = F.col("n0"), F.col("n1"), F.col("n2")
    return rho.join(tau, "source").select(
        "source", "n_items", "spearman_rho",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.when(
            (n0 > n1) & (n0 > n2),
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(((n0 - n1) * (n0 - n2)).cast("double")),
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) A/B test — value-level formulation
# ---------------------------------------------------------------------------

_MW_Z_CRIT = 1.96  # two-sided 5%, same convention as events_ab_test

_MANNWHITNEY_SQL = f"""
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS m
  FROM events GROUP BY user_id
),
vals AS (
  SELECT m,
         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS c1
  FROM per_user GROUP BY m
),
cum AS (
  SELECT m, c0, c1,
         coalesce(sum(c1) OVER (
           ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS c1_below
  FROM vals
),
agg AS (
  SELECT sum(c0) AS n1, sum(c1) AS n2, sum(c0) + sum(c1) AS nn,
         sum(c0 * (2 * c1_below + c1)) AS u1_x2,
         sum((c0 + c1) * (c0 + c1) * (c0 + c1) - (c0 + c1)) AS tsum
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(u1_x2 AS BIGINT) AS u1_x2,
       CASE WHEN n1 > 0 AND n2 > 0 AND nn > 1
                 AND (nn * nn * nn - nn) > tsum THEN
         CAST(u1_x2 - n1 * n2 AS DOUBLE)
         / (2 * sqrt(CAST(n1 * n2 AS DOUBLE)
                     * CAST((nn * nn * nn - nn) - tsum AS DOUBLE)
                     / (12.0 * nn * (nn - 1))))
       END AS z,
       CASE WHEN n1 > 0 AND n2 > 0 AND nn > 1
                 AND (nn * nn * nn - nn) > tsum THEN
         abs(CAST(u1_x2 - n1 * n2 AS DOUBLE)
             / (2 * sqrt(CAST(n1 * n2 AS DOUBLE)
                         * CAST((nn * nn * nn - nn) - tsum AS DOUBLE)
                         / (12.0 * nn * (nn - 1))))) > {_MW_Z_CRIT}
       END AS significant
FROM agg
"""


@register("events_mannwhitney_ab", oracle=_MANNWHITNEY_SQL)
def events_mannwhitney_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum A/B test (built r9, staged
    r10) — the NONPARAMETRIC companion to events_ab_test's z-test:
    does variant 0's per-user click count stochastically dominate
    variant 1's? Deliberately NOT the textbook per-user global rank
    window (a single-partition sort over every user — a 100 TB
    scale-killer): U is computed at the VALUE level instead.
    U1 = sum_a c0(a) * (#below(a) + ties(a)/2) over distinct metric
    values, so the only window runs over the bounded value-level table
    (19 distinct click counts here; always << users), kept on the exact
    2x integer grid (u1_x2) so no .5 ever touches a float. The
    tie-corrected normal z uses exact integer tie mass
    T = sum(t^3 - t) and is stated in the same operator order in both
    engines (one sqrt of a double quotient), so the doubles are
    bit-identical. Degenerate inputs (one-sided, all-tied, <2 users)
    yield NULL, never div-by-zero.

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), one tiny value-level aggregate + window, one 1-row
    readout."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("m"),
    ).select((F.col("user_id") % 2).alias("variant"), "m")
    vals = per_user.groupBy("m").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("c1"),
    )
    w = (
        Window.orderBy("m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vals.withColumn(
        "c1_below", F.coalesce(F.sum("c1").over(w), F.lit(0))
    )
    t = F.col("c0") + F.col("c1")
    agg = cum.agg(
        F.sum("c0").alias("n1"),
        F.sum("c1").alias("n2"),
        (F.sum("c0") + F.sum("c1")).alias("nn"),
        F.sum(
            F.col("c0") * (2 * F.col("c1_below") + F.col("c1"))
        ).alias("u1_x2"),
        F.sum(t * t * t - t).alias("tsum"),
    )
    n1, n2, nn = F.col("n1"), F.col("n2"), F.col("nn")
    u1x2, tsum = F.col("u1_x2"), F.col("tsum")
    ok = (n1 > 0) & (n2 > 0) & (nn > 1) & ((nn * nn * nn - nn) > tsum)
    z = (u1x2 - n1 * n2).cast("double") / (
        2
        * F.sqrt(
            (n1 * n2).cast("double")
            * ((nn * nn * nn - nn) - tsum).cast("double")
            / (F.lit(12.0) * nn * (nn - 1))
        )
    )
    return agg.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        u1x2.cast("long").alias("u1_x2"),
        F.when(ok, z).alias("z"),
        F.when(ok, F.abs(z) > _MW_Z_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Split-conformal calibration gate (finite-sample coverage guarantee)
# ---------------------------------------------------------------------------

_CONF_A = 40_503   # affine split hash, shared family with rel_split_assign
_CONF_C = 7_919
_CONF_CAL_PCT = 40  # calibration share
# alpha = 0.1: q_rank = ceil(0.9 * (n_cal + 1)), kept in pure integers

_CONFORMAL_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         abs(n_chars - 7 * {T.token_count_sql('text')}) AS s,
         (doc_id * {_CONF_A} + {_CONF_C}) % {T.HASH_MOD} % 100
           < {_CONF_CAL_PCT} AS is_cal
  FROM documents
),
par AS (
  SELECT sum(CASE WHEN is_cal THEN 1 ELSE 0 END) AS n_cal,
         sum(CASE WHEN is_cal THEN 0 ELSE 1 END) AS n_test
  FROM scored
),
qk AS (
  SELECT n_cal, n_test, (9 * (n_cal + 1) + 9) // 10 AS q_rank FROM par
),
calv AS (
  SELECT s, count(*) AS c FROM scored WHERE is_cal GROUP BY s
),
calc AS (
  SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM calv
),
thr AS (
  SELECT min(calc.s) AS threshold FROM calc, qk WHERE calc.cum >= qk.q_rank
),
cov AS (
  SELECT sum(CASE WHEN thr.threshold IS NULL
                    OR scored.s <= thr.threshold THEN 1 ELSE 0 END) AS covered
  FROM scored, thr WHERE NOT is_cal
)
SELECT CAST(qk.n_cal AS BIGINT) AS n_cal,
       CAST(qk.n_test AS BIGINT) AS n_test,
       CAST(qk.q_rank AS BIGINT) AS q_rank,
       CAST(thr.threshold AS BIGINT) AS threshold,
       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered,
       CASE WHEN qk.n_test > 0 THEN
         CAST(coalesce(cov.covered, 0) AS DOUBLE) / qk.n_test
       END AS coverage
FROM qk, thr, cov
"""


@register(
    "curation_conformal_threshold", oracle=_CONFORMAL_SQL
)
def curation_conformal_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction gate (built r9, staged r10): the
    distribution-free way to turn ANY quality score into a keep/flag
    threshold with a finite-sample guarantee. A deterministic affine
    id-hash routes 40% of docs to calibration; the nonconformity score
    (|n_chars - 7*tokens|, an integer residual of a trivial length
    model) is ranked there, and the threshold is the
    ceil(0.9*(n_cal+1))-th smallest calibration score — computed as
    pure integer arithmetic ((9*(n+1)+9) div 10, no float quantiles),
    selected via a VALUE-LEVEL cumulative window (bounded distinct
    integer scores; never a data-sized single-partition sort). Test
    coverage then checks the >=90% guarantee empirically; the one
    double is the final coverage quotient. When q_rank exceeds n_cal
    (tiny calibration sets) the threshold is +infinity by the conformal
    convention — surfaced as NULL with full coverage, mirrored in both
    engines.

    Scale shape: one scan-stage score + split, one tiny value-level
    aggregate + window, 1-row broadcasts for threshold and readout."""
    from ..cache import persist_tracked

    docs = load_table(spark, sf_dir, "documents")
    # one persisted score base serves all three branches (stats /
    # calibration histogram / test coverage) — the tokenizer fold is
    # the dominant cost and must run once, not three times
    scored = persist_tracked(
        docs.select(
            "doc_id",
            F.abs(
                F.col("n_chars") - 7 * T.token_count("text")
            ).cast("long").alias("s"),
            (
                (F.col("doc_id") * _CONF_A + _CONF_C) % T.HASH_MOD % 100
                < _CONF_CAL_PCT
            ).alias("is_cal"),
        )
    )
    par = scored.agg(
        F.sum(F.when(F.col("is_cal"), 1).otherwise(0)).alias("n_cal"),
        F.sum(F.when(F.col("is_cal"), 0).otherwise(1)).alias("n_test"),
    ).select(
        "n_cal", "n_test",
        ((9 * (F.col("n_cal") + 1) + 9) / 10).cast("long").alias("q_rank"),
    )
    calv = (
        scored.filter("is_cal").groupBy("s").agg(F.count("*").alias("c"))
    )
    calc = calv.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("s").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    thr = (
        calc.crossJoin(F.broadcast(par))
        .filter(F.col("cum") >= F.col("q_rank"))
        .agg(F.min("s").alias("threshold"))
    )
    cov = (
        scored.filter(~F.col("is_cal"))
        .crossJoin(F.broadcast(thr))
        .agg(
            F.sum(
                F.when(
                    F.col("threshold").isNull()
                    | (F.col("s") <= F.col("threshold")),
                    1,
                ).otherwise(0)
            ).alias("covered")
        )
    )
    return (
        par.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("q_rank").cast("long").alias("q_rank"),
            F.col("threshold").cast("long").alias("threshold"),
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("long").alias("covered"),
            F.when(
                F.col("n_test") > 0,
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_test"),
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test — value-level ECDF formulation
# ---------------------------------------------------------------------------

_KS_C_ALPHA = 1.358  # two-sided 5% asymptotic critical coefficient

_KS_SQL = f"""
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m
  FROM events GROUP BY user_id
),
vals AS (
  SELECT m,
         sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS c1
  FROM per_user GROUP BY m
),
cum AS (
  SELECT m,
         sum(c0) OVER (ORDER BY m) AS cum0,
         sum(c1) OVER (ORDER BY m) AS cum1
  FROM vals
),
tot AS (SELECT sum(c0) AS n1, sum(c1) AS n2 FROM vals),
agg AS (
  SELECT max(abs(cum0 * tot.n2 - cum1 * tot.n1)) AS d_num
  FROM cum, tot
)
SELECT CAST(tot.n1 AS BIGINT) AS n1, CAST(tot.n2 AS BIGINT) AS n2,
       CAST(agg.d_num AS BIGINT) AS d_num,
       CASE WHEN tot.n1 > 0 AND tot.n2 > 0 THEN
         CAST(agg.d_num AS DOUBLE) / (tot.n1 * tot.n2)
       END AS d,
       CASE WHEN tot.n1 > 0 AND tot.n2 > 0 THEN
         CAST(agg.d_num AS DOUBLE) / (tot.n1 * tot.n2)
           > {_KS_C_ALPHA} * sqrt(
               CAST(tot.n1 + tot.n2 AS DOUBLE)
               / (CAST(tot.n1 AS DOUBLE) * tot.n2))
       END AS significant
FROM tot, agg
"""


@register("events_ks_ab", oracle=_KS_SQL)
def events_ks_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov two-sample test (built r9, staged r10) —
    the DISTRIBUTION-level A/B companion to events_ab_test (means) and
    events_mannwhitney_ab (stochastic dominance): does variant 0's
    per-user purchase-count distribution differ ANYWHERE from variant
    1's? D = sup_x |ECDF0(x) - ECDF1(x)| is computed on the VALUE
    level: one user-keyed aggregate (the only data-sized shuffle),
    then cumulative counts over the bounded distinct-value grid, with
    the sup taken on the exact integer lattice |cum0*n2 - cum1*n1| so
    no float ever enters the argmax — D itself is ONE double division
    of exact integers, and the asymptotic 5% threshold
    c(alpha)*sqrt((n1+n2)/(n1*n2)) is stated in the same operator
    order in both engines. Degenerate one-sided inputs yield NULL.

    Scale shape: one user-keyed aggregate, one bounded value-level
    window, a 1-row readout. The single-partition window holds only
    distinct per-user counts (dozens of rows at any scale)."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("m"),
    ).select((F.col("user_id") % 2).alias("variant"), "m")
    vals = per_user.groupBy("m").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("c1"),
    )
    w = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        F.sum("c0").over(w).alias("cum0"),
        F.sum("c1").over(w).alias("cum1"),
    )
    tot = vals.agg(
        F.sum("c0").alias("n1"), F.sum("c1").alias("n2")
    )
    agg = cum.crossJoin(F.broadcast(tot)).agg(
        F.max(
            F.abs(F.col("cum0") * F.col("n2") - F.col("cum1") * F.col("n1"))
        ).alias("d_num"),
    )
    n1, n2, d_num = F.col("n1"), F.col("n2"), F.col("d_num")
    ok = (n1 > 0) & (n2 > 0)
    d = d_num.cast("double") / (n1 * n2)
    crit = F.lit(_KS_C_ALPHA) * F.sqrt(
        (n1 + n2).cast("double") / (n1.cast("double") * n2)
    )
    return tot.crossJoin(F.broadcast(agg)).select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        d_num.cast("long").alias("d_num"),
        F.when(ok, d).alias("d"),
        F.when(ok, d > crit).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test — exact integer moments
# ---------------------------------------------------------------------------

_WELCH_T_CRIT = 1.96  # normal approx, df >> 30 at every tested scale

_WELCH_SQL = f"""
WITH per_user AS (
  SELECT user_id % 2 AS variant,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
),
mom AS (
  SELECT variant, count(*) AS n, sum(x) AS s1, sum(x * x) AS s2
  FROM per_user GROUP BY variant
),
wide AS (
  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 0 THEN s1 END) AS a1,
         max(CASE WHEN variant = 0 THEN s2 END) AS a2,
         max(CASE WHEN variant = 1 THEN n END) AS n1,
         max(CASE WHEN variant = 1 THEN s1 END) AS b1,
         max(CASE WHEN variant = 1 THEN s2 END) AS b2
  FROM mom
),
calc AS (
  SELECT n0, n1,
         CAST(a1 AS DOUBLE) / n0 AS m0,
         CAST(b1 AS DOUBLE) / n1 AS m1,
         CAST(n0 * a2 - a1 * a1 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n0 * (n0 - 1)) AS se0,
         CAST(n1 * b2 - b1 * b1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS se1
  FROM wide
  WHERE n0 > 1 AND n1 > 1
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       m0 AS mean0, m1 AS mean1,
       CASE WHEN se0 + se1 > 0 THEN
         (m0 - m1) / sqrt(se0 + se1)
       END AS t,
       CASE WHEN se0 + se1 > 0 THEN
         (se0 + se1) * (se0 + se1)
         / (se0 * se0 / (n0 - 1) + se1 * se1 / (n1 - 1))
       END AS df,
       CASE WHEN se0 + se1 > 0 THEN
         abs((m0 - m1) / sqrt(se0 + se1)) > {_WELCH_T_CRIT}
       END AS significant
FROM calc
"""


@register("events_welch_ttest", oracle=_WELCH_SQL)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (built r9, staged r10) — the
    mean-difference A/B test that does NOT assume equal group
    variances (events_ab_test's pooled z does). Per-variant moments
    (n, sum x, sum x^2) are EXACT INTEGERS from one user-keyed
    aggregate, so the sample variance n*S2 - S1^2 never sees a float
    sum; each standard-error term se_i = var_i/n_i is one double
    division of exact integers, and t, the Welch-Satterthwaite df, and
    the significance readout are stated in the same operator order in
    both engines. Groups with n <= 1 or zero spread yield an empty /
    NULL readout rather than div-by-zero. significant uses the normal
    1.96 (df > 70 at the smallest tier; documented approximation).

    Scale shape: one user-keyed aggregate (the only data-sized
    shuffle), a 2-row pivot, a 1-row readout."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
    ).select((F.col("user_id") % 2).alias("variant"), "x")
    mom = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    v0 = F.col("variant") == 0
    wide = mom.agg(
        F.max(F.when(v0, F.col("n"))).alias("n0"),
        F.max(F.when(v0, F.col("s1"))).alias("a1"),
        F.max(F.when(v0, F.col("s2"))).alias("a2"),
        F.max(F.when(~v0, F.col("n"))).alias("n1"),
        F.max(F.when(~v0, F.col("s1"))).alias("b1"),
        F.max(F.when(~v0, F.col("s2"))).alias("b2"),
    ).filter((F.col("n0") > 1) & (F.col("n1") > 1))
    n0, n1 = F.col("n0"), F.col("n1")
    m0 = F.col("a1").cast("double") / n0
    m1 = F.col("b1").cast("double") / n1
    se0 = (n0 * F.col("a2") - F.col("a1") * F.col("a1")).cast("double") / (
        n0.cast("double") * n0 * (n0 - 1)
    )
    se1 = (n1 * F.col("b2") - F.col("b1") * F.col("b1")).cast("double") / (
        n1.cast("double") * n1 * (n1 - 1)
    )
    calc = wide.select(
        n0.alias("n0"), n1.alias("n1"),
        m0.alias("m0"), m1.alias("m1"),
        se0.alias("se0"), se1.alias("se1"),
    )
    s = F.col("se0") + F.col("se1")
    t = (F.col("m0") - F.col("m1")) / F.sqrt(s)
    return calc.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("m0").alias("mean0"),
        F.col("m1").alias("mean1"),
        F.when(s > 0, t).alias("t"),
        F.when(
            s > 0,
            s * s
            / (
                F.col("se0") * F.col("se0") / (F.col("n0") - 1)
                + F.col("se1") * F.col("se1") / (F.col("n1") - 1)
            ),
        ).alias("df"),
        F.when(s > 0, F.abs(t) > _WELCH_T_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel stratified A/B test
# ---------------------------------------------------------------------------

_CMH_CHI_CRIT = 3.841  # chi-square(1), 5%

_CMH_SQL = """
WITH per_sess AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         user_id % 2 AS variant,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS saw,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE), user_id
),
cells AS (
  SELECT day, variant,
         sum(saw) AS n, sum(saw * bought) AS x
  FROM per_sess GROUP BY day, variant
),
strata AS (
  SELECT day,
         max(CASE WHEN variant = 0 THEN x END) AS a,
         max(CASE WHEN variant = 0 THEN n END) AS n0,
         max(CASE WHEN variant = 1 THEN x END) AS b,
         max(CASE WHEN variant = 1 THEN n END) AS n1
  FROM cells GROUP BY day
  HAVING max(CASE WHEN variant = 0 THEN n END) > 0
     AND max(CASE WHEN variant = 1 THEN n END) > 0
     AND max(CASE WHEN variant = 0 THEN n END)
       + max(CASE WHEN variant = 1 THEN n END) > 1
),
terms AS (
  SELECT day, a, n0, b, n1, n0 + n1 AS t, a + b AS m1,
         CAST(round(a - CAST(n0 * (a + b) AS DOUBLE) / (n0 + n1), 9)
              AS DECIMAL(28,9)) AS dev,
         CAST(round(
           CAST(n0 AS DOUBLE) * n1 * (a + b) * (n0 + n1 - a - b)
             / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1) * (n0 + n1 - 1)), 9)
           AS DECIMAL(28,9)) AS var_k,
         CAST(round(CAST(a * (n1 - b) AS DOUBLE) / (n0 + n1), 9)
              AS DECIMAL(28,9)) AS or_num,
         CAST(round(CAST(b * (n0 - a) AS DOUBLE) / (n0 + n1), 9)
              AS DECIMAL(28,9)) AS or_den
  FROM strata
),
agg AS (
  SELECT count(*) AS n_strata,
         CAST(sum(dev) AS DECIMAL(38,9)) AS sdev,
         CAST(sum(var_k) AS DECIMAL(38,9)) AS svar,
         CAST(sum(or_num) AS DECIMAL(38,9)) AS sor_num,
         CAST(sum(or_den) AS DECIMAL(38,9)) AS sor_den
  FROM terms
)
SELECT CAST(n_strata AS BIGINT) AS n_strata,
       CASE WHEN svar > 0 THEN
         CAST(sdev AS DOUBLE) * CAST(sdev AS DOUBLE)
           / CAST(svar AS DOUBLE)
       END AS chi2,
       CASE WHEN svar > 0 THEN
         CAST(sdev AS DOUBLE) * CAST(sdev AS DOUBLE)
           / CAST(svar AS DOUBLE) > 3.841
       END AS significant,
       CASE WHEN sor_den > 0 THEN
         CAST(sor_num AS DOUBLE) / CAST(sor_den AS DOUBLE)
       END AS odds_ratio_mh
FROM agg
"""


@register("events_cmh_stratified_ab", oracle=_CMH_SQL)
def events_cmh_stratified_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified A/B test (built r9, staged
    r10) — the Simpson's-paradox-safe companion to events_ab_test:
    conversion is compared WITHIN each day stratum and the evidence
    pooled, so a traffic-mix shift across days cannot fabricate or
    mask a lift the way it can in the pooled 2x2. Per stratum the
    deviation a_k - E[a_k], the hypergeometric variance, and the
    Mantel-Haenszel odds-ratio terms a_k*d_k/t_k, b_k*c_k/t_k are
    each ONE double expression rounded to the 9dp DECIMAL grid before
    summing (the chi-square cell-term pattern — exact, order-free
    sums; float += across strata is partitioning-dependent), and the
    final chi2 / OR_MH are double quotients of those exact sums.
    Degenerate strata (a side unobserved, t<=1) are excluded by the
    CMH convention; all-degenerate inputs yield NULL readouts.

    Scale shape: one (day, user) aggregate (the only data-sized
    shuffle, map-side combinable), a day-keyed pivot (one row per
    stratum), a 1-row readout. Strata count is calendar-bounded."""
    events = load_table(spark, sf_dir, "events")
    per_sess = events.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("saw"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("bought"),
    ).select(
        "day", (F.col("user_id") % 2).alias("variant"), "saw", "bought"
    )
    cells = per_sess.groupBy("day", "variant").agg(
        F.sum("saw").alias("n"),
        F.sum(F.col("saw") * F.col("bought")).alias("x"),
    )
    v0 = F.col("variant") == 0
    strata = (
        cells.groupBy("day")
        .agg(
            F.max(F.when(v0, F.col("x"))).alias("a"),
            F.max(F.when(v0, F.col("n"))).alias("n0"),
            F.max(F.when(~v0, F.col("x"))).alias("b"),
            F.max(F.when(~v0, F.col("n"))).alias("n1"),
        )
        .filter(
            (F.col("n0") > 0)
            & (F.col("n1") > 0)
            & (F.col("n0") + F.col("n1") > 1)
        )
    )
    a, n0, b, n1 = F.col("a"), F.col("n0"), F.col("b"), F.col("n1")
    t = n0 + n1
    m1 = a + b
    dec = "decimal(28,9)"
    terms = strata.select(
        F.round(
            a - (n0 * m1).cast("double") / t, 9
        ).cast(dec).alias("dev"),
        F.round(
            n0.cast("double") * n1 * m1 * (t - m1)
            / (t.cast("double") * t * (t - 1)),
            9,
        ).cast(dec).alias("var_k"),
        F.round(
            (a * (n1 - b)).cast("double") / t, 9
        ).cast(dec).alias("or_num"),
        F.round(
            (b * (n0 - a)).cast("double") / t, 9
        ).cast(dec).alias("or_den"),
    )
    agg = terms.agg(
        F.count("*").alias("n_strata"),
        F.sum("dev").cast("decimal(38,9)").alias("sdev"),
        F.sum("var_k").cast("decimal(38,9)").alias("svar"),
        F.sum("or_num").cast("decimal(38,9)").alias("sor_num"),
        F.sum("or_den").cast("decimal(38,9)").alias("sor_den"),
    )
    sdev, svar = F.col("sdev").cast("double"), F.col("svar").cast("double")
    chi2 = sdev * sdev / svar
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.when(F.col("svar") > 0, chi2).alias("chi2"),
        F.when(F.col("svar") > 0, chi2 > _CMH_CHI_CRIT).alias("significant"),
        F.when(
            F.col("sor_den") > 0,
            F.col("sor_num").cast("double") / F.col("sor_den").cast("double"),
        ).alias("odds_ratio_mh"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry preference ranking — unrolled MM iterations
# ---------------------------------------------------------------------------

_BT_ITERS = 3

_BT_SQL = """
WITH per_ut AS (
  SELECT user_id, event_type AS item, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
duels AS (
  SELECT a.item AS i, b.item AS j,
         sum(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS w,
         sum(CASE WHEN a.c <> b.c THEN 1 ELSE 0 END) AS n
  FROM per_ut a JOIN per_ut b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY a.item, b.item
),
pairs AS (SELECT i, j, n FROM duels WHERE n > 0),
wins AS (SELECT i, sum(w) AS wi, sum(n) AS ni FROM duels GROUP BY i),
p0 AS (SELECT i, CAST(1 AS DECIMAL(18,6)) AS p FROM wins),
d1 AS (
  SELECT pairs.i,
         CAST(sum(CAST(round(CAST(pairs.n AS DOUBLE)
           / CAST(pi.p + pj.p AS DOUBLE), 9) AS DECIMAL(28,9)))
           AS DECIMAL(38,9)) AS den
  FROM pairs JOIN p0 pi ON pi.i = pairs.i JOIN p0 pj ON pj.i = pairs.j
  GROUP BY pairs.i
),
p1 AS (
  SELECT wins.i, CAST(round(CAST(wins.wi AS DOUBLE)
           / CAST(d1.den AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
  FROM wins JOIN d1 ON d1.i = wins.i WHERE d1.den > 0 AND wins.wi > 0
),
d2 AS (
  SELECT pairs.i,
         CAST(sum(CAST(round(CAST(pairs.n AS DOUBLE)
           / CAST(pi.p + pj.p AS DOUBLE), 9) AS DECIMAL(28,9)))
           AS DECIMAL(38,9)) AS den
  FROM pairs JOIN p1 pi ON pi.i = pairs.i JOIN p1 pj ON pj.i = pairs.j
  GROUP BY pairs.i
),
p2 AS (
  SELECT wins.i, CAST(round(CAST(wins.wi AS DOUBLE)
           / CAST(d2.den AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
  FROM wins JOIN d2 ON d2.i = wins.i WHERE d2.den > 0 AND wins.wi > 0
),
d3 AS (
  SELECT pairs.i,
         CAST(sum(CAST(round(CAST(pairs.n AS DOUBLE)
           / CAST(pi.p + pj.p AS DOUBLE), 9) AS DECIMAL(28,9)))
           AS DECIMAL(38,9)) AS den
  FROM pairs JOIN p2 pi ON pi.i = pairs.i JOIN p2 pj ON pj.i = pairs.j
  GROUP BY pairs.i
),
p3 AS (
  SELECT wins.i, CAST(round(CAST(wins.wi AS DOUBLE)
           / CAST(d3.den AS DOUBLE), 6) AS DECIMAL(18,6)) AS p
  FROM wins JOIN d3 ON d3.i = wins.i WHERE d3.den > 0 AND wins.wi > 0
),
tot AS (SELECT CAST(sum(p) AS DECIMAL(38,6)) AS sp FROM p3)
SELECT p3.i AS item,
       CAST(wins.wi AS BIGINT) AS wins,
       CAST(wins.ni AS BIGINT) AS comparisons,
       CAST(p3.p AS DOUBLE) AS p_raw,
       CAST(p3.p AS DOUBLE) / CAST(tot.sp AS DOUBLE) AS strength
FROM p3 JOIN wins ON wins.i = p3.i, tot
"""


@register("events_bradley_terry", oracle=_BT_SQL)
def events_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference ranking by THREE unrolled MM
    iterations (built r9, staged r10) — the model behind pairwise
    preference data (RLHF comparisons, arena-style evals): each user's
    per-event-type activity counts duel pairwise (i beats j for a user
    when c_i > c_j; ties are undecided and drop from n_ij), and the
    minorize-maximize update p_i <- W_i / sum_j n_ij/(p_i+p_j) runs
    three plan-side steps from p=1 (the kmeans/pagerank/Platt
    unrolled-iteration convention — the ITERATION itself is
    oracle-checked). Every per-pair term rounds to 9dp DECIMAL before
    its exact sum and every parameter re-pins to the 6dp grid between
    steps, so both engines walk the same trajectory bit-for-bit; the
    readout reports raw and sum-normalized strengths. Items with zero
    wins (or no decided duel) drop from the ranking by the MM
    convention (their update is degenerate at 0).

    Scale shape: one (user, item) count, one user-keyed self-join with
    bounded fan-out (|item-domain|^2 pairs per user), reduced
    map-side to the |items|^2 duel table — the ONLY data-sized work.
    All three MM steps run on the <= |items|^2-row duel/param tables
    via broadcast joins; nothing iterative touches the events again."""
    events = load_table(spark, sf_dir, "events")
    per_ut = events.groupBy(
        "user_id", F.col("event_type").alias("item")
    ).agg(F.count("*").alias("c"))
    a, b = per_ut.alias("a"), per_ut.alias("b")
    duels = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("i"), F.col("b.item").alias("j"))
        .agg(
            F.sum(
                F.when(F.col("a.c") > F.col("b.c"), 1).otherwise(0)
            ).alias("w"),
            F.sum(
                F.when(F.col("a.c") != F.col("b.c"), 1).otherwise(0)
            ).alias("n"),
        )
    )
    from ..cache import persist_tracked

    # |items|^2 rows: one partition, so the three MM-step joins and
    # aggregates run as 1-task stages under any shuffle-partition
    # setting (the markov-stationary scheduling-constant lesson)
    duels = persist_tracked(duels.coalesce(1))
    pairs = duels.filter(F.col("n") > 0).select("i", "j", "n")
    wins = duels.groupBy("i").agg(
        F.sum("w").alias("wi"), F.sum("n").alias("ni")
    )
    p = wins.select("i", F.lit(1).cast("decimal(18,6)").alias("p"))

    def mm_step(p):
        pi = p.select(F.col("i").alias("pi_i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("i").alias("pj_i"), F.col("p").alias("p_j"))
        den = (
            pairs.join(F.broadcast(pi), F.col("i") == F.col("pi_i"))
            .join(F.broadcast(pj), F.col("j") == F.col("pj_i"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(
                        F.col("n").cast("double")
                        / (F.col("p_i") + F.col("p_j")).cast("double"),
                        9,
                    ).cast("decimal(28,9)")
                ).cast("decimal(38,9)").alias("den")
            )
            .coalesce(1)
        )
        return (
            wins.join(den, "i")
            .filter((F.col("den") > 0) & (F.col("wi") > 0))
            .select(
                "i",
                F.round(
                    F.col("wi").cast("double") / F.col("den").cast("double"),
                    6,
                ).cast("decimal(18,6)").alias("p"),
            )
        )

    for _ in range(_BT_ITERS):
        p = mm_step(p)
    tot = p.agg(F.sum("p").cast("decimal(38,6)").alias("sp"))
    return (
        p.join(wins, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("i").alias("item"),
            F.col("wi").cast("long").alias("wins"),
            F.col("ni").cast("long").alias("comparisons"),
            F.col("p").cast("double").alias("p_raw"),
            (F.col("p").cast("double") / F.col("sp").cast("double")).alias(
                "strength"
            ),
        )
    )


# ---------------------------------------------------------------------------
# top principal component — 3 unrolled power-iteration steps on the
# dim-covariance matrix
# ---------------------------------------------------------------------------

_PCA_SQL = f"""
WITH covmat AS ({_DIM_COVARIANCE_SQL}),
m AS (
  SELECT dim_i AS i, dim_j AS j,
         CAST(cov AS DECIMAL(18,6)) AS cov FROM covmat
  UNION ALL
  SELECT dim_j, dim_i, CAST(cov AS DECIMAL(18,6))
  FROM covmat WHERE dim_i <> dim_j
),
v0 AS (
  SELECT DISTINCT dim_i AS dim,
         CAST(round(1.0 / {_COV_D}, 6) AS DECIMAL(18,6)) AS v
  FROM covmat
),
w1 AS (
  SELECT m.i AS dim,
         CAST(sum(CAST(round(m.cov * v0.v, 9)
              AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS w
  FROM m JOIN v0 ON v0.dim = m.j GROUP BY m.i
),
n1 AS (
  SELECT sqrt(CAST(sum(CAST(round(
           CAST(w AS DECIMAL(18,9)) * CAST(w AS DECIMAL(18,9)), 9)
           AS DECIMAL(28,9))) AS DOUBLE)) AS nrm FROM w1
),
v1 AS (
  SELECT dim, CAST(round(CAST(w AS DOUBLE) / n1.nrm, 6)
         AS DECIMAL(18,6)) AS v
  FROM w1, n1 WHERE n1.nrm > 0
),
w2 AS (
  SELECT m.i AS dim,
         CAST(sum(CAST(round(m.cov * v1.v, 9)
              AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS w
  FROM m JOIN v1 ON v1.dim = m.j GROUP BY m.i
),
n2 AS (
  SELECT sqrt(CAST(sum(CAST(round(
           CAST(w AS DECIMAL(18,9)) * CAST(w AS DECIMAL(18,9)), 9)
           AS DECIMAL(28,9))) AS DOUBLE)) AS nrm FROM w2
),
v2 AS (
  SELECT dim, CAST(round(CAST(w AS DOUBLE) / n2.nrm, 6)
         AS DECIMAL(18,6)) AS v
  FROM w2, n2 WHERE n2.nrm > 0
),
w3 AS (
  SELECT m.i AS dim,
         CAST(sum(CAST(round(m.cov * v2.v, 9)
              AS DECIMAL(28,9))) AS DECIMAL(38,9)) AS w
  FROM m JOIN v2 ON v2.dim = m.j GROUP BY m.i
),
n3 AS (
  SELECT sqrt(CAST(sum(CAST(round(
           CAST(w AS DECIMAL(18,9)) * CAST(w AS DECIMAL(18,9)), 9)
           AS DECIMAL(28,9))) AS DOUBLE)) AS nrm FROM w3
),
v3 AS (
  SELECT dim, CAST(round(CAST(w AS DOUBLE) / n3.nrm, 6)
         AS DECIMAL(18,6)) AS v
  FROM w3, n3 WHERE n3.nrm > 0
)
SELECT v3.dim,
       CAST(v1.v AS DOUBLE) AS v_step1,
       CAST(v2.v AS DOUBLE) AS v_step2,
       CAST(v3.v AS DOUBLE) AS v_step3,
       n3.nrm AS eigenvalue_est
FROM v3 JOIN v2 USING (dim) JOIN v1 USING (dim), n3
"""


@register("sim_pca_power_iteration", oracle=_PCA_SQL)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the leading-{_COV_D} embedding
    dimensions by THREE unrolled power-iteration steps on
    sim_dim_covariance's matrix (built r9 session 3, staged r10) —
    the spectral readout behind whitening and anisotropy diagnosis:
    v <- normalize(C v) from a uniform start, reporting the vector at
    every step plus the final ||C v|| Rayleigh-style eigenvalue
    estimate. C is PSD, so the iteration cannot flip sign and the
    all-positive start pins the direction. The matrix rides as
    DECIMAL(18,6), so every C_ij * v_j product and every norm square
    is EXACT decimal before its 9dp re-pin (a double-product round-9
    draft hit a true half boundary — DuckDB rounds doubles half-even,
    Spark half-up — and diverged at step 3); the vector re-pins to
    the 6dp grid after one double division per entry (sqrt is
    IEEE-identical cross-engine).

    Scale shape: the covariance sufficient statistics are the only
    data-sized work (one map-side-combinable aggregate over 136 fixed
    keys — sim_dim_covariance's plan); all three iteration steps run
    on the {_COV_D}x{_COV_D} matrix coalesced to one partition."""
    cov = sim_dim_covariance(spark, sf_dir).select(
        "dim_i", "dim_j", F.col("cov").cast("decimal(18,6)").alias("cov")
    )
    from ..cache import persist_tracked

    m = persist_tracked(
        cov.unionByName(
            cov.filter(F.col("dim_i") != F.col("dim_j")).select(
                F.col("dim_j").alias("dim_i"),
                F.col("dim_i").alias("dim_j"),
                "cov",
            )
        )
        .select(
            F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "cov"
        )
        .coalesce(1)
    )
    v = m.select(F.col("i").alias("dim")).distinct().select(
        "dim",
        F.round(F.lit(1.0) / _COV_D, 6).cast("decimal(18,6)").alias("v"),
    )

    def step(v):
        w = (
            m.join(
                F.broadcast(v.withColumnRenamed("dim", "j")),
                "j",
            )
            .groupBy(F.col("i").alias("dim"))
            .agg(
                F.sum(
                    F.round(F.col("cov") * F.col("v"), 9)
                    .cast("decimal(28,9)")
                ).cast("decimal(38,9)").alias("w")
            )
            .coalesce(1)
        )
        w9 = F.col("w").cast("decimal(18,9)")
        nrm = w.agg(
            F.sqrt(
                F.sum(
                    F.round(w9 * w9, 9).cast("decimal(28,9)")
                ).cast("double")
            ).alias("nrm")
        )
        vn = (
            w.crossJoin(F.broadcast(nrm))
            .filter(F.col("nrm") > 0)
            .select(
                "dim",
                F.round(F.col("w").cast("double") / F.col("nrm"), 6)
                .cast("decimal(18,6)").alias("v"),
            )
        )
        # checkpoint (r13, guide §5): each step's vector feeds the NEXT
        # step AND the final join — unrolled, v1's subtree would be
        # re-planned and re-executed inside v2, v3, and the output (the
        # iterative-lineage growth the graph family hit in r12). The cut
        # replaces it with a 16-row leaf; lazy, so no job at plan build.
        from ..cache import checkpoint_tracked

        return checkpoint_tracked(vn), nrm

    v1, _ = step(v)
    v2, _ = step(v1)
    v3, n3 = step(v2)
    return (
        v3.select("dim", F.col("v").cast("double").alias("v_step3"))
        .join(
            v2.select("dim", F.col("v").cast("double").alias("v_step2")),
            "dim",
        )
        .join(
            v1.select("dim", F.col("v").cast("double").alias("v_step1")),
            "dim",
        )
        .crossJoin(F.broadcast(n3.select(F.col("nrm").alias(
            "eigenvalue_est"))))
        .select("dim", "v_step1", "v_step2", "v_step3", "eigenvalue_est")
    )


# ---------------------------------------------------------------------------
# Benford's-law first-digit conformance test
# ---------------------------------------------------------------------------

# log10(1 + 1/d) pinned to 9dp as shared literals: no log() parity in
# the hot path, and both engines consume the identical decimal grid
_BENFORD_P = {
    1: "0.301029996", 2: "0.176091259", 3: "0.124938737",
    4: "0.096910013", 5: "0.079181246", 6: "0.066946790",
    7: "0.057991947", 8: "0.051152522", 9: "0.045757491",
}
_BENFORD_CHI_CRIT = 15.507  # chi-square(8), 5%

_BENFORD_VALUES = ",".join(
    f"({d}, {p})" for d, p in _BENFORD_P.items()
)

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                     AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM lineitem WHERE l_extendedprice > 0
),
obs AS (SELECT d, count(*) AS o FROM digits GROUP BY d),
exp_p AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) t(d, p)),
tot AS (SELECT sum(o) AS n FROM obs),
cells AS (
  SELECT exp_p.d, coalesce(obs.o, 0) AS o,
         CAST(exp_p.p AS DECIMAL(12,9)) AS p,
         CAST(round(
           (coalesce(obs.o, 0) - CAST(exp_p.p AS DOUBLE) * tot.n)
           * (coalesce(obs.o, 0) - CAST(exp_p.p AS DOUBLE) * tot.n)
           / (CAST(exp_p.p AS DOUBLE) * tot.n), 9) AS DECIMAL(28,9))
           AS term
  FROM exp_p LEFT JOIN obs USING (d), tot WHERE tot.n > 0
)
SELECT CAST(cells.d AS BIGINT) AS digit,
       CAST(cells.o AS BIGINT) AS observed,
       CAST(cells.p AS DOUBLE) AS benford_p,
       CAST(cells.o AS DOUBLE) / tot.n AS observed_p,
       CAST((SELECT CAST(sum(term) AS DECIMAL(38,9)) FROM cells)
            AS DOUBLE) AS chi2,
       CAST((SELECT CAST(sum(term) AS DECIMAL(38,9)) FROM cells)
            AS DOUBLE) > {_BENFORD_CHI_CRIT} AS nonconforming
FROM cells, tot
"""


@register("rel_benford_digit_test", oracle=_BENFORD_SQL)
def rel_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit conformance test (built r9 session 3,
    staged r10) — the fraud / synthetic-data / unit-mixup smell test
    every financial data-quality pipeline runs: the leading digit of
    l_extendedprice (taken from the exact cent-integer's decimal
    string — no float log10 in the digit path) is tallied against the
    Benford distribution log10(1+1/d), PINNED as shared 9dp literal
    constants so no transcendental parity is involved anywhere. The
    chi-square statistic sums round-9 DECIMAL cell terms (exact,
    order-free — the chi2/PSI discipline) and rides every row beside
    the per-digit observed shares; TPC-H prices are uniform-ish, so
    the fixture legitimately flags nonconforming (that is the test
    working, and the planted-fixture test covers the conforming side).

    Scale shape: one scan-stage digit extraction, one 9-key map-side
    combinable count, 1-row total broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = benford_digit_counts(li)
    return benford_readout(spark, obs)


def benford_digit_counts(li: DataFrame) -> DataFrame:
    """(d, o) first-digit counts of l_extendedprice — the ADDITIVE
    sufficient statistic (digit counts merge by +), shared by the batch
    test and the streaming drain's per-batch delta."""
    digits = li.filter(F.col("l_extendedprice") > 0).select(
        # explicit round() on BOTH sides: a bare double->BIGINT cast
        # ROUNDS in DuckDB but TRUNCATES in Spark, and at a power-of-ten
        # boundary (9999.99997 cents) that flips the leading digit
        F.substring(
            F.round(F.col("l_extendedprice") * 100, 0)
            .cast("long").cast("string"),
            1, 1,
        ).cast("long").alias("d")
    )
    return digits.groupBy("d").agg(F.count("*").alias("o"))


def benford_readout(spark: SparkSession, obs: DataFrame) -> DataFrame:
    """Conformance readout from (d, o) counts — a pure function of the
    sufficient statistic, shared verbatim by batch and stream forms."""
    exp_p = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "d long, p string"
    ).select("d", F.col("p").cast("decimal(12,9)").alias("p"))
    tot = obs.agg(F.sum("o").alias("n"))
    o = F.coalesce(F.col("o"), F.lit(0))
    e = F.col("p").cast("double") * F.col("n")
    cells = (
        exp_p.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n") > 0)
        .select(
            "d", o.alias("o"), "p", "n",
            F.round((o - e) * (o - e) / e, 9)
            .cast("decimal(28,9)").alias("term"),
        )
    )
    chi = cells.agg(
        F.sum("term").cast("decimal(38,9)").cast("double").alias("chi2")
    )
    return cells.crossJoin(F.broadcast(chi)).select(
        F.col("d").cast("long").alias("digit"),
        F.col("o").cast("long").alias("observed"),
        F.col("p").cast("double").alias("benford_p"),
        (F.col("o").cast("double") / F.col("n")).alias("observed_p"),
        "chi2",
        (F.col("chi2") > _BENFORD_CHI_CRIT).alias("nonconforming"),
    )


# ---------------------------------------------------------------------------
# difference-in-differences estimator (pre/post x treat/control)
# ---------------------------------------------------------------------------

_DID_CUTOVER = "2024-01-16"  # policy date splitting pre/post
_DID_Z_CRIT = 1.96

_DID_SQL = f"""
WITH per_cell AS (
  SELECT user_id % 2 = 0 AS treated,
         ts >= TIMESTAMP '{_DID_CUTOVER}' AS post,
         user_id,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1, 2, user_id
),
mom AS (
  SELECT treated, post, count(*) AS n,
         sum(y) AS s1, sum(y * y) AS s2
  FROM per_cell GROUP BY treated, post
),
wide AS (
  SELECT
    max(CASE WHEN treated AND post THEN n END) AS n_tp,
    max(CASE WHEN treated AND post THEN s1 END) AS s1_tp,
    max(CASE WHEN treated AND post THEN s2 END) AS s2_tp,
    max(CASE WHEN treated AND NOT post THEN n END) AS n_tr,
    max(CASE WHEN treated AND NOT post THEN s1 END) AS s1_tr,
    max(CASE WHEN treated AND NOT post THEN s2 END) AS s2_tr,
    max(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
    max(CASE WHEN NOT treated AND post THEN s1 END) AS s1_cp,
    max(CASE WHEN NOT treated AND post THEN s2 END) AS s2_cp,
    max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_cr,
    max(CASE WHEN NOT treated AND NOT post THEN s1 END) AS s1_cr,
    max(CASE WHEN NOT treated AND NOT post THEN s2 END) AS s2_cr
  FROM mom
),
calc AS (
  SELECT *,
         CAST(s1_tp AS DOUBLE) / n_tp AS m_tp,
         CAST(s1_tr AS DOUBLE) / n_tr AS m_tr,
         CAST(s1_cp AS DOUBLE) / n_cp AS m_cp,
         CAST(s1_cr AS DOUBLE) / n_cr AS m_cr,
         CAST(n_tp * s2_tp - s1_tp * s1_tp AS DOUBLE)
           / (CAST(n_tp AS DOUBLE) * n_tp * (n_tp - 1)) AS v_tp,
         CAST(n_tr * s2_tr - s1_tr * s1_tr AS DOUBLE)
           / (CAST(n_tr AS DOUBLE) * n_tr * (n_tr - 1)) AS v_tr,
         CAST(n_cp * s2_cp - s1_cp * s1_cp AS DOUBLE)
           / (CAST(n_cp AS DOUBLE) * n_cp * (n_cp - 1)) AS v_cp,
         CAST(n_cr * s2_cr - s1_cr * s1_cr AS DOUBLE)
           / (CAST(n_cr AS DOUBLE) * n_cr * (n_cr - 1)) AS v_cr
  FROM wide
  WHERE n_tp > 1 AND n_tr > 1 AND n_cp > 1 AND n_cr > 1
)
SELECT CAST(n_tp AS BIGINT) AS n_treat_post,
       CAST(n_cr AS BIGINT) AS n_control_pre,
       m_tp - m_tr AS delta_treat,
       m_cp - m_cr AS delta_control,
       (m_tp - m_tr) - (m_cp - m_cr) AS did,
       CASE WHEN v_tp + v_tr + v_cp + v_cr > 0 THEN
         ((m_tp - m_tr) - (m_cp - m_cr))
           / sqrt(v_tp + v_tr + v_cp + v_cr)
       END AS z,
       CASE WHEN v_tp + v_tr + v_cp + v_cr > 0 THEN
         abs(((m_tp - m_tr) - (m_cp - m_cr))
             / sqrt(v_tp + v_tr + v_cp + v_cr)) > {_DID_Z_CRIT}
       END AS significant
FROM calc
"""


@register("events_diff_in_diff", oracle=_DID_SQL)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator (built r9 session 3, staged
    r10) — the causal-inference workhorse the plain A/B family can't
    replace when treatment wasn't randomized: per-user click outcomes
    in a 2x2 of (treated, pre/post a fixed policy date), with
    DiD = (T_post - T_pre) - (C_post - C_pre) differencing away both
    the group baseline and the common time trend. All four cells'
    moments (n, sum y, sum y^2) are EXACT INTEGERS from one
    (treated, post, user) aggregate; means, variances, the DiD, and
    the z against the four-cell Welch-style standard error are stated
    in the same operator order in both engines. Any empty-ish cell
    (n <= 1) empties the readout rather than dividing by zero.

    Scale shape: one user-cell aggregate (the only data-sized
    shuffle, map-side combinable), a 4-row pivot, a 1-row readout."""
    events = load_table(spark, sf_dir, "events")
    per_cell = events.groupBy(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.col("ts") >= F.lit(_DID_CUTOVER).cast("timestamp")).alias("post"),
        "user_id",
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("y")
    )
    mom = per_cell.groupBy("treated", "post").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )

    def cell(tr, po, col):
        cond = (F.col("treated") == tr) & (F.col("post") == po)
        return F.max(F.when(cond, F.col(col)))

    names = {"tp": (True, True), "tr": (True, False),
             "cp": (False, True), "cr": (False, False)}
    wide = mom.agg(
        *[
            cell(tr, po, c).alias(f"{c}_{k}")
            for k, (tr, po) in names.items()
            for c in ("n", "s1", "s2")
        ]
    ).filter(
        (F.col("n_tp") > 1) & (F.col("n_tr") > 1)
        & (F.col("n_cp") > 1) & (F.col("n_cr") > 1)
    )

    def mean(k):
        return F.col(f"s1_{k}").cast("double") / F.col(f"n_{k}")

    def var_of_mean(k):
        n, s1, s2 = (F.col(f"{c}_{k}") for c in ("n", "s1", "s2"))
        return (n * s2 - s1 * s1).cast("double") / (
            n.cast("double") * n * (n - 1)
        )

    did = (mean("tp") - mean("tr")) - (mean("cp") - mean("cr"))
    vsum = sum(var_of_mean(k) for k in names)
    z = did / F.sqrt(vsum)
    return wide.select(
        F.col("n_tp").cast("long").alias("n_treat_post"),
        F.col("n_cr").cast("long").alias("n_control_pre"),
        (mean("tp") - mean("tr")).alias("delta_treat"),
        (mean("cp") - mean("cr")).alias("delta_control"),
        did.alias("did"),
        F.when(vsum > 0, z).alias("z"),
        F.when(vsum > 0, F.abs(z) > _DID_Z_CRIT).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Stratified inverse-propensity ATE (observational causal estimate)
# ---------------------------------------------------------------------------

_IPW_TREAT_MOD = 10   # affine-hash assignment: (user*31+7) % 10 < 4
_IPW_TREAT_LT = 4


_IPW_SQL = f"""
WITH peru AS (
  SELECT user_id,
         count(*) AS n_ev,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS y,
         (user_id * 31 + 7) % {_IPW_TREAT_MOD} < {_IPW_TREAT_LT} AS treated
  FROM events GROUP BY user_id
),
strat AS (
  SELECT *,
         CASE WHEN n_ev < 5 THEN 0 WHEN n_ev < 10 THEN 1
              WHEN n_ev < 20 THEN 2 ELSE 3 END AS stratum
  FROM peru
),
cells AS (
  SELECT stratum,
         CAST(count(*) AS BIGINT) AS n_users,
         CAST(count(*) FILTER (treated) AS BIGINT) AS nt,
         CAST(count(*) FILTER (NOT treated) AS BIGINT) AS nc,
         CAST(sum(y) FILTER (treated) AS DECIMAL(38,2)) AS st,
         CAST(sum(y) FILTER (NOT treated) AS DECIMAL(38,2)) AS sc
  FROM strat GROUP BY stratum
),
keep AS (SELECT * FROM cells WHERE nt > 0 AND nc > 0),
tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS big_n FROM keep),
lat AS (
  SELECT k.stratum, k.n_users, k.nt, k.nc, t.big_n,
         CAST(CAST(k.st AS DECIMAL(18,2)) * 100 AS BIGINT) AS st100,
         CAST(CAST(k.sc AS DECIMAL(18,2)) * 100 AS BIGINT) AS sc100
  FROM keep k, tot t
),
m AS (
  SELECT *,
         (st100 * 20000 + nt) // (2 * nt) AS m6t,
         (sc100 * 20000 + nc) // (2 * nc) AS m6c
  FROM lat
),
e AS (SELECT *, m6t - m6c AS e6 FROM m)
SELECT stratum, n_users, nt, nc,
       m6t AS mean_y_treated_micro6,
       m6c AS mean_y_control_micro6,
       e6 AS stratum_effect_micro6,
       CASE WHEN e6 < 0
            THEN -((2 * n_users * (-e6) * 1000 + big_n) // (2 * big_n))
            ELSE (2 * n_users * e6 * 1000 + big_n) // (2 * big_n)
            END AS ate_contrib_nano9
FROM e
"""


@register("events_ipw_ate", oracle=_IPW_SQL)
def events_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified inverse-propensity ATE (built r10, staged r11) — the
    observational-causal workhorse beside events_diff_in_diff's policy
    cutover: treatment is a deterministic affine-hash assignment (the
    conformal gate's split device standing in for a real exposure
    flag), outcome is the per-user exact-DECIMAL value total, and
    confounding is removed by stratifying on activity tier (fixed CASE
    bounds — never a global ntile sort). Within a stratum the
    propensity is constant, so IPW reduces to the stratified estimator:
    ATE = sum_s (n_s/N) * (mean_T,s - mean_C,s).

    Exactness (rewritten r12; restated BIGINT end-to-end r13 — the
    r11/r12 driver red row): every output stat lives on an exact
    half-up integer lattice, no doubles OR decimals anywhere. The
    per-arm sums are integral in cents (st*100 BIGINT); means round
    half-up to 6dp via the trunc-division identity
    half_up(a/b) = (2a+b) div (2b) on nonnegative a (Spark ``div`` and
    DuckDB BIGINT ``//`` both truncate toward zero); the stratum
    effect is the exact difference of the two 6dp lattices; the ATE
    contribution rounds half-away-from-zero to 9dp on the same device
    (sign split out, so trunc==floor on the nonneg magnitude), making
    the overall ATE in value units an EXACT sum of ate_contrib_nano9
    times 1e-9 (the chi2/PSI per-row-contribution device). The means
    and effects are emitted AS the BIGINT micro-unit lattice values
    (mean_y_*_micro6 = 1e-6 value units, ate_contrib_nano9 = 1e-9):
    the r12 form re-scaled them onto DECIMAL(18,6)/DECIMAL(18,9) grid
    points — locally bit-identical to the DuckDB oracle at all three
    SFs, yet the driver's environment hashed them differently two
    rounds running (engine-version decimal rendering/hash
    normalization is the suspect). Integers admit exactly one
    rendering, so the lattice itself is now the contract. Lattice
    headroom: the widest term is 2*n_users*|e6|*1000 ~ 2e3 * N_users
    * mean_gap_microunits — ~5e13 at sf0.1, five orders under int64;
    at cluster scale widen to the DECIMAL(38,0)/HUGEINT lattice with
    the %%-then-/ floor device. Degenerate strata (all-treated /
    all-control, where IPW is undefined) drop explicitly.

    Scale shape: per-user aggregate (map-side combinable), then a
    4-row stratum×arm cell aggregate and a broadcast 1-row total —
    nothing beyond the user reduce ever shuffles."""
    ev = load_table(spark, sf_dir, "events")
    peru = ev.groupBy("user_id").agg(
        F.count("*").alias("n_ev"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("y"),
    ).withColumn(
        "treated",
        (F.col("user_id") * 31 + 7) % _IPW_TREAT_MOD < _IPW_TREAT_LT,
    )
    strat = peru.withColumn(
        "stratum",
        F.when(F.col("n_ev") < 5, 0)
        .when(F.col("n_ev") < 10, 1)
        .when(F.col("n_ev") < 20, 2)
        .otherwise(3),
    )
    t = F.col("treated")
    cells = strat.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count_if(t).cast("bigint").alias("nt"),
        F.count_if(~t).cast("bigint").alias("nc"),
        F.sum(F.when(t, F.col("y"))).cast("decimal(38,2)").alias("st"),
        F.sum(F.when(~t, F.col("y"))).cast("decimal(38,2)").alias("sc"),
    )
    keep = cells.where((F.col("nt") > 0) & (F.col("nc") > 0))
    from ..cache import persist_tracked

    keep = persist_tracked(keep)
    tot = keep.agg(F.sum("n_users").cast("bigint").alias("big_n"))
    lat = (
        keep.crossJoin(F.broadcast(tot))
        .withColumns(
            {
                "st100": F.expr(
                    "CAST(CAST(st AS DECIMAL(18,2)) * 100 AS BIGINT)"
                ),
                "sc100": F.expr(
                    "CAST(CAST(sc AS DECIMAL(18,2)) * 100 AS BIGINT)"
                ),
            }
        )
        .withColumns(
            {
                "m6t": F.expr("(st100 * 20000 + nt) div (2 * nt)"),
                "m6c": F.expr("(sc100 * 20000 + nc) div (2 * nc)"),
            }
        )
        .withColumn("e6", F.expr("m6t - m6c"))
    )
    return lat.select(
        "stratum",
        "n_users",
        "nt",
        "nc",
        F.col("m6t").alias("mean_y_treated_micro6"),
        F.col("m6c").alias("mean_y_control_micro6"),
        F.col("e6").alias("stratum_effect_micro6"),
        F.expr(
            "CASE WHEN e6 < 0"
            " THEN -((2 * n_users * (-e6) * 1000 + big_n) div (2 * big_n))"
            " ELSE (2 * n_users * e6 * 1000 + big_n) div (2 * big_n)"
            " END"
        ).alias("ate_contrib_nano9"),
    )


# ---------------------------------------------------------------------------
# one-way ANOVA (built r11, staged r12)
# ---------------------------------------------------------------------------

def _anova_sql_over(vals_sql: str, head: str = "WITH") -> str:
    """Full exact-moment one-way-ANOVA SQL over any ``vals`` relation
    (columns grp, x integer) — shared by rel_anova_oneway, the
    streaming drain's oracle, and the Brown-Forsythe Levene test
    (which feeds |2x - 2·median| deviations through the same
    algebra)."""
    return f"""
{head} vals AS ({vals_sql}),
g AS (
  SELECT grp, count(*) AS n_g, sum(x) AS s_g, sum(x * x) AS q_g
  FROM vals GROUP BY grp
),
tot AS (
  SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s, sum(q_g) AS q
  FROM g
),
terms AS (
  SELECT CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g, 9)
              AS DECIMAL(28,9)) AS t
  FROM g
),
s AS (
  SELECT tot.k, tot.n,
         round(CAST(sum(terms.t) AS DECIMAL(38,9))
               - CAST(round(CAST(tot.s AS DOUBLE) * tot.s / tot.n, 9)
                      AS DECIMAL(28,9)), 3) AS ssb,
         round(CAST(tot.q AS DECIMAL(38,9))
               - CAST(sum(terms.t) AS DECIMAL(38,9)), 3) AS ssw
  FROM terms, tot GROUP BY tot.k, tot.n, tot.s, tot.q
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(n AS BIGINT) AS n,
       CAST(ssb AS DOUBLE) AS ssb,
       CAST(ssw AS DOUBLE) AS ssw,
       CAST(CAST(ssb AS DOUBLE) / (k - 1)
            / (CAST(ssw AS DOUBLE) / (n - k)) AS DOUBLE) AS f_stat,
       CAST(CAST(ssb AS DOUBLE)
            / (CAST(ssb AS DOUBLE) + CAST(ssw AS DOUBLE))
            AS DOUBLE) AS eta_squared
FROM s WHERE n > k AND k > 1
"""


_ANOVA_SQL = _anova_sql_over(
    """
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
  FROM lineitem
"""
)


@register("rel_anova_oneway", oracle=_ANOVA_SQL)
def rel_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test (built r11, staged r12) — does a
    categorical column explain a numeric one? (quantity by return
    flag). The variance-decomposition member of the A/B family beside
    Welch (2 groups), CMH (stratified binary), and Mann-Whitney
    (rank-based): SSB = Σ S_g²/n_g − S²/N and SSW = Q − Σ S_g²/n_g
    from EXACT integer group moments (counts, sums, sums of squares —
    l_quantity is integral by construction).

    Decimal discipline: each S_g²/n_g term is one double division of
    exact <2^53 integers, round-9 DECIMAL before the exact sum (the
    chi2 device); the assembled SSB/SSW are re-pinned to 3dp BEFORE
    double conversion (their 9dp scaled units exceed 2^53 at sf0.1 —
    the zipf-fit conversion-width lesson applied at build time, not
    discovered by the sweep); F and eta² are fixed-shape double
    expressions of the pinned values.

    Scale shape: one map-side-combinable 3-group moment aggregate over
    the scan; everything after is k-row. At larger SF the S_g² < 2^53
    pin would need the N-scaled floor-div device — documented, not
    needed at the test tiers."""
    li = load_table(spark, sf_dir, "lineitem")
    return anova_readout(anova_group_moments(li))


def anova_group_moments(li: DataFrame) -> DataFrame:
    """(grp, n_g, s_g, q_g) exact integer group moments — the complete
    ADDITIVE sufficient statistic of the F test (shared by the batch
    query and the streaming drain)."""
    vals = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    return vals.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("q_g"),
    )


def anova_readout(g: DataFrame) -> DataFrame:
    """F / eta² as a pure function of the (grp, n_g, s_g, q_g) moment
    table — round-9 DECIMAL terms, 3dp re-pin before conversion."""
    from ..cache import persist_tracked

    g = persist_tracked(g)
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
    )
    terms = g.select(
        F.round(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"), 9)
        .cast("decimal(28,9)")
        .alias("t")
    ).agg(F.sum("t").cast("decimal(38,9)").alias("st"))
    s = (
        tot.crossJoin(F.broadcast(terms))
        .select(
            "k",
            "n",
            F.round(
                F.col("st")
                - F.round(
                    F.col("s").cast("double") * F.col("s") / F.col("n"), 9
                ).cast("decimal(28,9)"),
                3,
            ).alias("ssb"),
            F.round(
                F.col("q").cast("decimal(38,9)") - F.col("st"), 3
            ).alias("ssw"),
        )
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("ssb").cast("double")
    ssw = F.col("ssw").cast("double")
    return s.where((n > k) & (k > 1)).select(
        k.cast("bigint").alias("k_groups"),
        n.cast("bigint").alias("n"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        (ssb / (k - 1) / (ssw / (n - k))).cast("double").alias("f_stat"),
        (ssb / (ssb + ssw)).cast("double").alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe Levene test (built r11, staged r12)
# ---------------------------------------------------------------------------

_LEVENE_SQL = _anova_sql_over(
    """
  SELECT r.grp, ABS(2 * r.x - m.m2) AS x
  FROM (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
        FROM lineitem) r
  JOIN (
    SELECT grp,
           min(CASE WHEN cum >= r1 THEN x END)
             + min(CASE WHEN cum >= r2 THEN x END) AS m2
    FROM (
      SELECT grp, x,
             sum(c) OVER (PARTITION BY grp ORDER BY x) AS cum,
             (sum(c) OVER (PARTITION BY grp) + 1) // 2 AS r1,
             sum(c) OVER (PARTITION BY grp) // 2 + 1 AS r2
      FROM (SELECT l_returnflag AS grp,
                   CAST(l_quantity AS BIGINT) AS x, count(*) AS c
            FROM lineitem GROUP BY 1, 2)
    ) GROUP BY grp
  ) m USING (grp)
"""
)


@register("rel_levene_test", oracle=_LEVENE_SQL)
def rel_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe Levene test (built r11, staged r12) — are the
    group VARIANCES equal? (the homoscedasticity check that decides
    whether rel_anova_oneway's pooled-variance F is even applicable —
    the two ship as a pair, the way Welch pairs with the t test).
    Brown-Forsythe's robust variant: deviations from the group MEDIAN,
    then the one-way-ANOVA F over those deviations, computed by the
    SAME anova_readout.

    Exactness: the group median comes off the bounded VALUE GRID
    (cumulative counts over distinct quantities — no row sort), and
    the deviations enter as |2x − 2·median| so the even-n half-value
    median stays an exact INTEGER lattice (F is scale-invariant, so
    the ×2 changes nothing); everything downstream is the exact-moment
    ANOVA algebra, F reported as w_stat.

    Scale shape: one (grp, value) count (map-side combinable, ≤ k·50
    cells), a cell-level window for the order statistics, one
    broadcast join of the k-row median table back onto the scan, and
    the k-group moment reduce — no row-level sort anywhere."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    cells = raw.groupBy("grp", "x").agg(F.count("*").alias("c"))
    wg = Window.partitionBy("grp")
    wcum = wg.orderBy("x")
    cum = cells.select(
        "grp", "x",
        F.sum("c").over(wcum).alias("cum"),
        ((F.sum("c").over(wg) + 1) / 2).cast("bigint").alias("r1"),
        (F.sum("c").over(wg) / 2 + 1).cast("bigint").alias("r2"),
    )
    med = cum.groupBy("grp").agg(
        (
            F.min(F.when(F.col("cum") >= F.col("r1"), F.col("x")))
            + F.min(F.when(F.col("cum") >= F.col("r2"), F.col("x")))
        ).alias("m2")
    )
    z = raw.join(F.broadcast(med), "grp").select(
        "grp", F.abs(2 * F.col("x") - F.col("m2")).alias("x")
    )
    g = z.groupBy("grp").agg(
        F.count("*").alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("q_g"),
    )
    return anova_readout(g)


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank test (built r12, staged r13)
# ---------------------------------------------------------------------------

_KW_SQL = """
WITH vals AS (
  SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x FROM lineitem
),
vgrid AS (SELECT x, count(*) AS t FROM vals GROUP BY x),
ranked AS (
  SELECT x, t,
         2 * (sum(t) OVER (ORDER BY x) - t) + t + 1 AS mr2
  FROM vgrid
),
gcnt AS (SELECT grp, x, count(*) AS c FROM vals GROUP BY grp, x),
gr AS (
  SELECT g.grp,
         CAST(sum(g.c) AS BIGINT) AS n_g,
         CAST(sum(g.c * r.mr2) AS HUGEINT) AS r2_g
  FROM gcnt g JOIN ranked r USING (x) GROUP BY g.grp
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k
  FROM gr
),
gterms AS (
  SELECT CAST((2 * 3 * r2_g * r2_g * 1000000
               + (n_g * t.n * (t.n + 1)))
              // (2 * (n_g * t.n * (t.n + 1))) AS DECIMAL(38,0)) AS g6
  FROM gr, tot t
),
gsum AS (
  SELECT CAST(CAST(sum(g6) AS DECIMAL(38,0)) AS DOUBLE) / 1e6 AS sum12
  FROM gterms
),
ties AS (
  SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tsum
  FROM vgrid
),
pin AS (
  SELECT t.n, t.k, g.sum12,
         CAST((2 * ti.tsum * 1000000000
               + (CAST(t.n AS HUGEINT) * t.n * t.n - t.n))
              // (2 * (CAST(t.n AS HUGEINT) * t.n * t.n - t.n))
              AS BIGINT) AS tf9
  FROM tot t, ties ti, gsum g
)
SELECT n, k AS k_groups,
       (sum12 - 3.0 * (n + 1)) / (1.0 - CAST(tf9 AS DOUBLE) / 1e9) AS h,
       ((sum12 - 3.0 * (n + 1)) / (1.0 - CAST(tf9 AS DOUBLE) / 1e9)
        - k + 1) / (n - k) AS eps_sq
FROM pin WHERE n > k AND k > 1 AND tf9 < 1000000000
"""


@register("rel_kruskal_wallis", oracle=_KW_SQL)
def rel_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test with tie correction (built r12, staged
    r13) — the RANK-based k-group companion completing the one-way
    family: ANOVA assumes normal-ish spreads, Levene checks that
    assumption, Mann-Whitney handles two groups; KW is the
    distribution-free k-group test an analyst reaches for when Levene
    says ANOVA's assumption failed. Same contingency as both
    (l_quantity by l_returnflag), where ties are MASSIVE (50 distinct
    values), so the tie-corrected form is the only correct one.

    Exactness: midranks come off the bounded VALUE GRID (2*midrank =
    2*cum_before + t + 1 — integer, never a row sort); per-group rank
    sums are exact integers (2R_g <= 2N² — int64 at the bench tiers,
    HUGEINT/DECIMAL(38,0) squares beyond); the per-group H term
    12R_g²/(n_g N(N+1)) pins to the 6dp lattice via the half-up
    trunc-division identity (the ipw device — Spark div == DuckDB //),
    the tie fraction Σ(t³−t)/(N³−N) pins to 9dp the same way, and the
    final H and epsilon² readouts are FIXED-SHAPE double expressions
    of exact <2^53 pinned stats (sum12·1e6 <= ~1e13 at 10x bench
    scale; the MI/chi2 readout device — no cross-row double sum, no
    final round). Degenerate surfaces (all values tied: tf9 = 1e9)
    drop explicitly.

    Scale shape: one value-grid count (bounded by distinct values),
    one (grp, x)-keyed map-side-combinable count, a <=50-row window,
    and 1-row broadcasts — nothing row-scaled past the first reduce."""
    return kw_readout(kw_value_grid(load_table(spark, sf_dir, "lineitem")))


def kw_value_grid(li: DataFrame) -> DataFrame:
    """(grp, x, c) value-grid counts of l_quantity by l_returnflag — the
    ADDITIVE sufficient statistic of kw_readout, bounded by groups x
    distinct values (the quantity grid is 50 values, so ~200 rows at
    any volume); also the streaming Kruskal-Wallis drain's per-batch
    delta."""
    vals = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("bigint").alias("x"),
    )
    return vals.groupBy("grp", "x").agg(
        F.count("*").cast("bigint").alias("c")
    )


def kw_readout(gcnt: DataFrame) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H as a pure function of the
    (grp, x, c) value-grid count table — the ADDITIVE sufficient
    statistic (bounded by groups x distinct values), shared by the
    batch query and the streaming drain (r12): midranks, rank sums,
    tie correction, and the fixed-shape H/epsilon² readout all derive
    from it."""
    from ..cache import persist_tracked

    gcnt = persist_tracked(gcnt)
    vgrid = gcnt.groupBy("x").agg(F.sum("c").alias("t"))
    wcum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = vgrid.select(
        "x", "t",
        (2 * (F.sum("t").over(wcum) - F.col("t")) + F.col("t") + 1)
        .alias("mr2"),
    )
    gr = (
        gcnt.join(F.broadcast(ranked), "x")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("mr2"))
            .cast("decimal(18,0)")
            .alias("r2_g"),
        )
    )
    gr = persist_tracked(gr)
    tot = gr.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
    )
    # the denominator n_g·N·(N+1) exceeds int64 past ~3x bench scale
    # (caught by the 10x trend run under ANSI) — keep it on the decimal
    # lattice like the numerator
    gterms = gr.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(n_g AS DECIMAL(20,0)) * n * (n + 1) AS den"
    , "r2_g").selectExpr(
        "CAST((6 * r2_g * r2_g * 1000000 + den)"
        " div (2 * den) AS DECIMAL(38,0)) AS g6"
    )
    gsum = gterms.agg(
        (F.sum("g6").cast("decimal(38,0)").cast("double") / F.lit(1e6))
        .alias("sum12")
    )
    ties = vgrid.agg(
        F.sum(
            F.col("t").cast("decimal(18,0)") * F.col("t") * F.col("t")
            - F.col("t")
        )
        .cast("decimal(38,0)")
        .alias("tsum")
    )
    pin = (
        tot.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(gsum))
        .selectExpr(
            "n", "k", "sum12",
            "CAST((2 * tsum * 1000000000"
            " + (CAST(n AS DECIMAL(18,0)) * n * n - n))"
            " div (2 * (CAST(n AS DECIMAL(18,0)) * n * n - n))"
            " AS BIGINT) AS tf9",
        )
    )
    h = (F.col("sum12") - 3.0 * (F.col("n") + 1)) / (
        F.lit(1.0) - F.col("tf9").cast("double") / F.lit(1e9)
    )
    return pin.where(
        (F.col("n") > F.col("k"))
        & (F.col("k") > 1)
        & (F.col("tf9") < 1000000000)
    ).select(
        "n",
        F.col("k").alias("k_groups"),
        h.alias("h"),
        ((h - F.col("k") + 1) / (F.col("n") - F.col("k"))).alias("eps_sq"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test (built r12, staged r13)
# ---------------------------------------------------------------------------

_CA_TREND_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         hour(ts) AS h
  FROM events
),
peru AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND rn <= 10
             THEN 1 ELSE 0 END) AS conv,
         min(CASE WHEN rn = 1 THEN h END) AS h1
  FROM seq GROUP BY user_id
),
tiers AS (
  SELECT h1 // 6 AS w, conv FROM peru
),
g AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(conv) AS BIGINT) AS r_i
  FROM tiers GROUP BY w
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n_i) AS BIGINT) AS n,
         CAST(sum(r_i) AS BIGINT) AS r,
         CAST(sum(w * n_i) AS BIGINT) AS wn,
         CAST(sum(w * w * n_i) AS BIGINT) AS wwn,
         CAST(sum(w * (r_i * (SELECT sum(n_i) FROM g)
                       - n_i * (SELECT sum(r_i) FROM g))) AS BIGINT) AS a
  FROM g
)
SELECT k AS n_groups, n, r AS n_converted, a AS u_n,
       a * sqrt(CAST(n AS DOUBLE))
         / sqrt(CAST(r * (n - r) AS DOUBLE) * (n * wwn - wn * wn)) AS z
FROM tot
WHERE r > 0 AND r < n AND n * wwn - wn * wn > 0
"""


@register("events_cochran_armitage", oracle=_CA_TREND_SQL)
def events_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test (built r12, staged r13) — the
    ORDERED-categorical member of the significance family: chi²
    (rel_chi2_independence) asks whether conversion depends on the
    activity tier AT ALL; Cochran-Armitage asks the sharper one-dof
    question 'does conversion rise MONOTONICALLY with the tier'
    (dose-response), which is what a growth analyst actually means.
    Dose = the 6-hour band of the user's FIRST event (an ordered
    0-3 score off a fixed calendar grid — never a data-dependent
    ntile sort); outcome = an EARLY purchase (within the user's first
    10 events by (ts, event_id) order) — both vary genuinely on the
    fixtures where the naive has-any-purchase outcome saturates at 1.

    Exactness: all sufficient statistics are exact integers off two
    map-side-combinable reduces (per-user, then per-tier); the
    N-scaled trend numerator a = Σ w_i(r_i·N − n_i·R) is exact
    (< 2^53 by orders); z = a·sqrt(N)/sqrt(R(N−R)·(NΣw²n − (Σwn)²))
    is ONE fixed-shape double expression of those integers (the b·c
    product may exceed 2^53 — IEEE multiply is correctly rounded and
    the op shape identical, the Welch/runs-test audit; allowlisted).
    Degenerate surfaces (no conversions, all conversions, one tier)
    drop explicitly.

    Scale shape: the per-user reduce is the only data-sized work;
    everything after is a 4-row tier table and 1-row totals."""
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wseq).alias("rn"),
        F.hour("ts").alias("h"),
    )
    peru = seq.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("rn") <= 10),
                1,
            ).otherwise(0)
        ).alias("conv"),
        F.min(F.when(F.col("rn") == 1, F.col("h"))).alias("h1"),
    )
    tiers = peru.select(
        (F.col("h1") / 6).cast("int").alias("w"), "conv"
    )
    g = tiers.groupBy("w").agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum("conv").cast("bigint").alias("r_i"),
    )
    from ..cache import persist_tracked

    g = persist_tracked(g)
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("w") * F.col("n_i")).cast("bigint").alias("wn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i"))
        .cast("bigint")
        .alias("wwn"),
    )
    a_t = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("w")
                * (F.col("r_i") * F.col("n") - F.col("n_i") * F.col("r"))
            )
            .cast("bigint")
            .alias("a")
        )
    )
    n, r, wn, wwn, a = (F.col(c) for c in ("n", "r", "wn", "wwn", "a"))
    z = (
        a
        * F.sqrt(n.cast("double"))
        / F.sqrt(
            (r * (n - r)).cast("double") * (n * wwn - wn * wn)
        )
    )
    return (
        tot.crossJoin(F.broadcast(a_t))
        .where((r > 0) & (r < n) & (n * wwn - wn * wn > 0))
        .select(
            F.col("k").alias("n_groups"),
            "n",
            r.alias("n_converted"),
            a.alias("u_n"),
            z.alias("z"),
        )
    )


# ---------------------------------------------------------------------------
# Theil inequality decomposition (built r12, staged r13)
# ---------------------------------------------------------------------------

_THEIL_SQL = """
WITH vals AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
),
cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS m FROM vals GROUP BY g, v),
grp AS (
  SELECT g, CAST(sum(m) AS BIGINT) AS n_g,
         CAST(sum(m * v) AS BIGINT) AS x_g
  FROM cells GROUP BY g
),
tot AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(x_g) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS k
  FROM grp
),
tterms AS (
  SELECT CAST(CAST(c.m * c.v AS DECIMAL(19,0))
              * CAST(round(ln(CAST(c.v AS DOUBLE) * t.n
                              / CAST(t.x AS DOUBLE)), 9)
                     AS DECIMAL(12,9)) AS DECIMAL(38,9)) AS tt,
         CAST(CAST(c.m * c.v AS DECIMAL(19,0))
              * CAST(round(ln(CAST(c.v AS DOUBLE) * g.n_g
                              / CAST(g.x_g AS DOUBLE)), 9)
                     AS DECIMAL(12,9)) AS DECIMAL(38,9)) AS tw
  FROM cells c JOIN grp g USING (g) CROSS JOIN tot t
),
bterms AS (
  SELECT CAST(CAST(g.x_g AS DECIMAL(19,0))
              * CAST(round(ln(CAST(g.x_g AS DOUBLE) * t.n
                              / (CAST(t.x AS DOUBLE) * g.n_g)), 9)
                     AS DECIMAL(12,9)) AS DECIMAL(38,9)) AS tb
  FROM grp g CROSS JOIN tot t
),
s AS (
  SELECT (SELECT n FROM tot) AS n,
         (SELECT k FROM tot) AS k,
         (SELECT x FROM tot) AS x,
         (SELECT CAST(CAST(sum(tt) AS DECIMAL(38,9)) AS DOUBLE)
          FROM tterms) AS st,
         (SELECT CAST(CAST(sum(tw) AS DECIMAL(38,9)) AS DOUBLE)
          FROM tterms) AS sw,
         (SELECT CAST(CAST(sum(tb) AS DECIMAL(38,9)) AS DOUBLE)
          FROM bterms) AS sb
)
SELECT n, k AS k_groups, x AS total_cents,
       st / x AS theil_total,
       sb / x AS theil_between,
       sw / x AS theil_within
FROM s WHERE n > 0 AND x > 0
"""


@register("rel_theil_decomposition", oracle=_THEIL_SQL)
def rel_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality with exact between/within decomposition
    (built r12, staged r13) — the economics-family companion to the
    Lorenz/Gini pair (rel_skew_gini, text_token_gini): Gini states
    inequality as ONE number but cannot be split by subpopulation;
    Theil's entropy form decomposes ADDITIVELY — T = T_between +
    T_within — so a revenue-concentration readout can say how much
    inequality lives BETWEEN return-flag segments vs INSIDE them (the
    question a mixture/source-rebalancing decision actually asks,
    DoReMi-adjacent). Measured over l_extendedprice cents by
    l_returnflag.

    Exactness: the value grid (g, v, m) makes every term a function
    of exact integers; T·X = Σ m·v·ln(vN/X), T_w·X = Σ m·v·ln(v·N_g/
    X_g), T_b·X = Σ X_g·ln(X_g·N/(X·N_g)) — each ln is pinned to the
    round-9 DECIMAL(12,9) grid BEFORE the integer multiply (the
    Zipf/KN device: pinning the transcendental first stops a last-ulp
    ln difference being amplified by the m·v weight), the weight
    product runs on the exact decimal lattice, operands stay < 2^53
    through the 10x trend tier (decimal beyond — the WB/JM envelope
    note), sums are exact decimal, and the readouts st/x, sb/x, sw/x
    are fixed-shape double divisions (allowlisted). The decomposition
    identity T = T_b + T_w holds to the 9dp term rounding (asserted
    at 1e-6 in the named test).

    Scale shape: one (g, v)-keyed map-side-combinable count reduces
    the corpus; group margins and totals are reductions of the CELL
    table; terms and sums are cell-sized. Nothing row-scaled past the
    first reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("v"),
    )
    from ..cache import persist_tracked

    cells = persist_tracked(
        vals.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("m"))
    )
    grp = persist_tracked(
        cells.groupBy("g").agg(
            F.sum("m").cast("bigint").alias("n_g"),
            F.sum(F.col("m") * F.col("v")).cast("bigint").alias("x_g"),
        )
    )
    tot = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("x_g").cast("bigint").alias("x"),
        F.count("*").cast("bigint").alias("k"),
    )
    m, v = F.col("m"), F.col("v")
    base = cells.join(F.broadcast(grp), "g").crossJoin(F.broadcast(tot))
    tsum = base.select(
        (
            (m * v).cast("decimal(19,0)")
            * F.round(
                F.log(
                    v.cast("double") * F.col("n")
                    / F.col("x").cast("double")
                ),
                9,
            ).cast("decimal(12,9)")
        )
        .cast("decimal(38,9)")
        .alias("tt"),
        (
            (m * v).cast("decimal(19,0)")
            * F.round(
                F.log(
                    v.cast("double") * F.col("n_g")
                    / F.col("x_g").cast("double")
                ),
                9,
            ).cast("decimal(12,9)")
        )
        .cast("decimal(38,9)")
        .alias("tw"),
    ).agg(
        F.sum("tt").cast("decimal(38,9)").cast("double").alias("st"),
        F.sum("tw").cast("decimal(38,9)").cast("double").alias("sw"),
    )
    bsum = (
        grp.crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("x_g").cast("decimal(19,0)")
                * F.round(
                    F.log(
                        F.col("x_g").cast("double") * F.col("n")
                        / (F.col("x").cast("double") * F.col("n_g"))
                    ),
                    9,
                ).cast("decimal(12,9)")
            )
            .cast("decimal(38,9)")
            .alias("tb")
        )
        .agg(F.sum("tb").cast("decimal(38,9)").cast("double").alias("sb"))
    )
    out = (
        tot.crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(bsum))
    )
    x = F.col("x")
    return out.where((F.col("n") > 0) & (x > 0)).select(
        "n",
        F.col("k").alias("k_groups"),
        x.alias("total_cents"),
        (F.col("st") / x).alias("theil_total"),
        (F.col("sb") / x).alias("theil_between"),
        (F.col("sw") / x).alias("theil_within"),
    )
