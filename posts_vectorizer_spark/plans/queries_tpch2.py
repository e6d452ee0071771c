"""TPC-H completion wave: the six classic shapes the engine did not yet
express — Q2 (min-cost supplier per part), Q9 (product-type profit by
nation and year), Q12 (late-shipment priority counts), Q15 (top supplier
= scalar-max subquery), Q17 (small-quantity threshold from a per-key
average), Q20 (excess-stock suppliers via exact majority test).

With q1/q13 long covered by `rel_groupby_agg` / `rel_custdist_histogram`
and q3-q8/q10/q11/q14/q16/q18/q19/q21/q22 registered in earlier rounds,
this wave makes the engine's TPC-H expressiveness complete: all 22 query
shapes run with exact DuckDB twins. The testdata has no partsupp table,
so like the earlier q11/q16 adaptations these state supplier-part economics
over lineitem (the (l_partkey, l_suppkey) pairs ARE the supply relation)
and cost over p_retailprice.

Exactness policy (the reason every comparison below is integer): money is
summed as round(x*100)::BIGINT cents (FP *100 is NOT integral on this
data — 6714/60k rows at sf0.01), discounts as hundredths, quantities are
integral 1..50 by construction, and every threshold comparison
(Q17's 5*qty*n < sum, Q20's 2*recent > total) is cross-multiplied into
integers so no engine-specific FP rounding can flip a boundary row.
Quotients appear only in final SELECT output, rounded identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .registry import register

# Exact scaled-integer money terms (same pattern + rationale as
# queries_advanced._dec_revenue / queries_relational._dec_sum).
_PRICE_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_DISC_H = "CAST(round(l_discount * 100) AS BIGINT)"
_QTY = "CAST(round(l_quantity) AS BIGINT)"
_RETAIL_CENTS = "CAST(round(p_retailprice * 100) AS BIGINT)"


def _price_cents() -> F.Column:
    return F.round(F.col("l_extendedprice") * 100).cast("bigint")


def _disc_h() -> F.Column:
    return F.round(F.col("l_discount") * 100).cast("bigint")


def _qty() -> F.Column:
    return F.round(F.col("l_quantity")).cast("bigint")


@register(
    "rel_tpch_q2_min_cost_supplier",
    oracle=f"""
WITH supply AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         sum({_PRICE_CENTS}) AS cost_cents
  FROM lineitem GROUP BY 1, 2
)
SELECT p.p_partkey, p.p_brand, s.s_name,
       CAST(su.cost_cents / 100.0 AS DOUBLE) AS supply_cost
FROM supply su
JOIN part p     ON su.partkey = p.p_partkey
JOIN supplier s ON su.suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size <= 10
  AND su.cost_cents = (
    SELECT min(su2.cost_cents)
    FROM supply su2
    JOIN supplier s2 ON su2.suppkey = s2.s_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE su2.partkey = su.partkey AND r2.r_name = 'EUROPE')
ORDER BY supply_cost DESC, p.p_partkey, s.s_name
LIMIT 100
""",
)
def rel_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part in a region): the
    correlated `= (SELECT min(...))` pattern, stated literally in the
    oracle and run as the decorrelated plan every 100 TB engine rewrites
    it to — ONE aggregation of the supply relation, a per-part min window
    over the region-filtered slice, filter cost = min, keep ties (as
    TPC-H does). Cost is an exact integer (summed cents), so the min
    comparison cannot split across engines.

    Scale shape: supply agg shuffles on (partkey, suppkey) once; the
    window min re-uses a partkey shuffle; supplier/nation/region dims are
    broadcast (100 rows / 25 / 5). No join ever carries the fact table
    twice — the correlated subquery's naive reading would re-scan supply
    per part."""
    li = load_table(spark, sf_dir, "lineitem")
    supply = (
        li.groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.sum(_price_cents()).alias("cost_cents"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    europe = (
        supply.join(F.broadcast(s), supply.suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .where(F.col("r_name") == "EUROPE")
    )
    w = Window.partitionBy("partkey")
    best = europe.withColumn(
        "min_cost", F.min("cost_cents").over(w)
    ).where(F.col("cost_cents") == F.col("min_cost"))
    return (
        best.join(F.broadcast(p.where(F.col("p_size") <= 10)),
                  best.partkey == F.col("p_partkey"))
        .select(
            "p_partkey", "p_brand", "s_name",
            (F.col("cost_cents") / 100.0).cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("supply_cost"), "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "rel_tpch_q9_product_profit",
    oracle=f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(sum({_PRICE_CENTS} * (100 - {_DISC_H})
                - {_RETAIL_CENTS} * {_QTY} * 10) / 10000.0 AS DOUBLE)
         AS profit
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN part p     ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
)
def rel_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): the
    five-way star join with a LIKE-filtered dimension driving the fact
    scan. Supply cost is 10% of the part's retail price (no partsupp
    table — module docstring); profit = revenue − cost, accumulated
    entirely in integer ten-thousandths so the sum is order-independent.

    Scale shape: the ~13%-selective part filter broadcasts and prunes the
    fact rows FIRST (the LIKE can't reach the parquet scan, but the
    broadcast-join semi-filter does the same work one exchange later);
    orders joins on the fact's natural key; supplier/nation broadcast.
    One wide shuffle on the (nation, year) agg key closes it."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    retail_cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    profit_tt = F.sum(
        _price_cents() * (F.lit(100) - _disc_h())
        - retail_cents * _qty() * F.lit(10)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg((profit_tt / 10000.0).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "rel_tpch_q12_late_shipments",
    oracle="""
SELECT CASE
         WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 180 THEN 'very_late'
         WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 60 THEN 'late'
         WHEN date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) >= 0 THEN 'on_time'
         ELSE 'pre_shipped'
       END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
ORDER BY delay_bucket
""",
)
def rel_tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority split): classify each
    shipment's order-to-ship delay into buckets and pivot the order
    priority into conditional counts — the canonical
    CASE-inside-aggregate pattern. lineitem has no shipmode/receiptdate,
    so the mode dimension becomes a derived delay bucket (the data's
    delay spans −2383..+2478 days, so all four buckets populate).

    Scale shape: one fact-fact equi-join on the natural key (orderkey),
    one tiny-domain aggregation; both conditional sums fold into the
    same partial aggregate — a single pass, no second join or pivot
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(delay > 180, "very_late")
        .when(delay > 60, "late")
        .when(delay >= 0, "on_time")
        .otherwise("pre_shipped")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority"),
        )
        .orderBy("delay_bucket")
    )


@register(
    "rel_tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS suppkey,
         sum({_PRICE_CENTS} * (100 - {_DISC_H})) AS rev_tt
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2001-01-01'
    AND l_shipdate <  TIMESTAMP '2001-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST(r.rev_tt / 10000.0 AS DOUBLE) AS total_revenue
FROM revenue r JOIN supplier s ON r.suppkey = s.s_suppkey
WHERE r.rev_tt = (SELECT max(rev_tt) FROM revenue)
ORDER BY s.s_suppkey
""",
)
def rel_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): aggregate a windowed quarter of
    shipments per supplier, then keep the supplier(s) equal to the GLOBAL
    max — the scalar-subquery-over-a-CTE pattern (vs rel_scalar_broadcast's
    constant-from-dims and Q2's per-group correlated min). Revenue is an
    exact integer, so `= max` keeps exact ties on both engines.

    Scale shape: the quarter filter pushes to the scan; one suppkey
    shuffle aggregates; the 1-row max joins back as a broadcast
    nested-loop (the same audited pattern as J5) against the ~100-row
    aggregate — never against the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.where(
            (F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2001-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(_price_cents() * (F.lit(100) - _disc_h())).alias("rev_tt"))
    )
    best = revenue.agg(F.max("rev_tt").alias("max_tt"))
    return (
        revenue.join(F.broadcast(best), revenue.rev_tt == best.max_tt)
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            (F.col("rev_tt") / 10000.0).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "rel_tpch_q17_small_quantity",
    oracle=f"""
SELECT CAST(round(sum({_PRICE_CENTS}) / 700.0, 4) AS DOUBLE)
         AS avg_yearly,
       CAST(count(*) AS BIGINT) AS qualifying_lineitems
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#12'
  AND 5 * {_QTY} * (SELECT count(*) FROM lineitem l2
                    WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(CAST(round(l2.l_quantity) AS BIGINT)) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
""",
)
def rel_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity revenue): lineitems whose quantity
    is below 20% of their part's average quantity — the correlated
    per-key scalar-average threshold. The oracle states the correlated
    subqueries literally; the engine runs the decorrelated 100 TB plan:
    ONE per-part aggregate joined back. The threshold test is
    cross-multiplied to integers (qty < 0.2·sum/n ⟺ 5·qty·n < sum), so
    no FP quotient can flip a boundary row on either engine — the exact
    trick rel_quantile_bisect uses for rank targets.

    Scale shape: the per-part aggregate reuses the fact's partkey
    partitioning; the brand dimension broadcasts; at TPC-H selectivity
    (1/25 brands) the per-part aggregate of the FILTERED side would be
    wrong (Q17 averages over ALL lineitems of the part), so the aggregate
    runs pre-filter — the one ordering constraint this shape imposes."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#12")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count("*").alias("n_li"),
        F.sum(_qty()).alias("sum_qty"),
    )
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == per_part.pk)
        .where(F.lit(5) * _qty() * F.col("n_li") < F.col("sum_qty"))
        .agg(
            F.round(F.sum(_price_cents()) / 700.0, 4)
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("qualifying_lineitems"),
        )
    )


@register(
    "rel_tpch_q20_excess_stock",
    oracle=f"""
WITH flows AS (
  SELECT l_suppkey AS suppkey, l_partkey AS partkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01'
                  THEN {_QTY} ELSE 0 END) AS recent_qty,
         sum({_QTY}) AS total_qty
  FROM lineitem GROUP BY 1, 2
)
SELECT DISTINCT s.s_name, n.n_name
FROM flows f
JOIN supplier s ON f.suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE 2 * f.recent_qty > f.total_qty AND f.total_qty >= 80
  AND f.partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
ORDER BY s.s_name
""",
)
def rel_tpch_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers): suppliers who shipped
    the MAJORITY of a small-part's lifetime volume in the final year —
    nested IN-subqueries over an aggregated supply relation, run as the
    semi-join chain. The majority test is exact-integer
    (2·recent > total) with a lifetime-volume floor (total ≥ 80: without
    it, single-lineitem pairs trivially pass and all 100 suppliers
    qualify; with it, 17 do at sf0.01); the conditional sum folds both
    the recent and lifetime totals into ONE aggregation pass (no
    self-join of lineitem, which is the trap the naive Q20 plan falls
    into at 100 TB).

    Scale shape: one (suppkey, partkey) shuffle for the flows aggregate;
    the name-filtered part set broadcasts as a semi-join; DISTINCT
    collapses on the tiny supplier domain."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    small = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    recent = F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp")
    flows = (
        li.groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(F.when(recent, _qty()).otherwise(F.lit(0))).alias("recent_qty"),
            F.sum(_qty()).alias("total_qty"),
        )
    )
    return (
        flows.where(
            (F.lit(2) * F.col("recent_qty") > F.col("total_qty"))
            & (F.col("total_qty") >= 80)
        )
        .join(F.broadcast(small), flows.partkey == small.p_partkey, "left_semi")
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
        .distinct()
        .orderBy("s_name")
    )
