"""Differential-oracle sweep: every registered [Q] query vs DuckDB at
sf0.01 — the same comparison the driver's correctness gate performs."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tests.conftest import SF_ORACLE, SF_SMOKE
from tools.oracle_check import compare_query

_QUERIES = E.queries()
_ORACLES = E.oracle_sql()


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "dim", "component"}


def test_every_query_has_doc_and_runs_registered():
    assert set(_ORACLES) <= set(_QUERIES)
    assert len(_QUERIES) >= 40


def _driver_green_union() -> set[str]:
    """Query names with a fully-green driver CORRECTNESS row in ANY past
    round (the committed CORRECTNESS_r*.json artifacts)."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as f:
            rows = json.load(f)
        for name, r in rows.items():
            if (
                r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                green.add(name)
    return green


def test_head50_covers_every_family():
    """The driver verifies only the first ~50 of queries(); pin that the
    curated head is exactly _HEAD_ORDER, all oracle-backed, and that every
    query module (= every SURVEY §2 family wave) is covered by the driver:
    either a query in THIS round's head, or an already-green driver row
    from a past round (head slots rotate to never-checked queries per the
    r3 verdict, so prior-round green rows carry module coverage)."""
    from posts_vectorizer_spark.plans import registry

    head = list(_QUERIES)[: len(registry._HEAD_ORDER)]
    assert head == list(registry._HEAD_ORDER)
    assert len(head) == 50
    missing_oracle = [n for n in head if n not in _ORACLES]
    assert not missing_oracle, missing_oracle
    by_module: dict[str, set[str]] = {}
    for name, qdef in registry.REGISTRY.items():
        by_module.setdefault(qdef.fn.__module__, set()).add(name)
    covered = set(head) | _driver_green_union()
    uncovered = [m for m, names in by_module.items() if not names & covered]
    assert not uncovered, (
        f"modules with no driver coverage (head-50 or past green row): "
        f"{uncovered}"
    )


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_match(spark, duck, name):
    problems, n_rows = compare_query(
        spark, duck, name, _QUERIES[name], _ORACLES[name], SF_ORACLE
    )
    assert not problems, f"{name}: {problems}"
    assert n_rows >= 0


@pytest.mark.parametrize("name", ["tfidf_doc_vectors", "rel_groupby_agg"])
def test_queries_run_at_smoke_sf(spark, name):
    assert _QUERIES[name](spark, SF_SMOKE).count() > 0


def test_array_agg_nested_form(spark):
    """The registered rel_array_agg_sorted serializes its array to a string
    (the driver's hasher can't factorize nested lists); this pins the true
    nested array<string> semantics the serialization stands in for."""
    from pyspark.sql import functions as F

    from posts_vectorizer_spark.sources.catalog import load_table

    n = load_table(spark, SF_ORACLE, "nation")
    nested = (
        n.groupBy("n_regionkey")
        .agg(F.sort_array(F.collect_list("n_name")).alias("nations"))
        .collect()
    )
    joined = {
        r["n_regionkey"]: r["nations"]
        for r in _QUERIES["rel_array_agg_sorted"](spark, SF_ORACLE).collect()
    }
    assert len(nested) == len(joined)
    for row in nested:
        assert row["nations"] == sorted(row["nations"])
        assert ",".join(row["nations"]) == joined[row["n_regionkey"]]


def test_coverage_doc_totals_match_registry():
    """COVERAGE.md's Totals line is the judge's headline inventory; pin it
    to the actual registry so documentation cannot drift from code."""
    import os
    import re

    from posts_vectorizer_spark.plans import registry

    registry._ensure_loaded()
    n_total = len(registry.REGISTRY)
    n_q = sum(1 for q in registry.REGISTRY.values() if q.oracle is not None)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        text = f.read()
    m = re.search(
        r"Totals: (\d+) registered queries — (\d+) \[Q\] hash-checked, "
        r"(\d+) \[R\] rows-only",
        text,
    )
    assert m, "COVERAGE.md Totals line not found"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_total,
        n_q,
        n_total - n_q,
    )


def test_every_R_query_names_an_existing_strong_test():
    """Registry lint (VERDICT r7 item 8): every [R] query — no oracle by
    design — must have a row in COVERAGE.md's [R] table that cites at
    least one `tests/test_*.py` file, and every cited file must exist. The totals test above checks only COUNTS; this one
    fails when a future [R] entry lands without its documented named
    test, or when a cited test file is renamed away."""
    import os
    import re

    from posts_vectorizer_spark.plans import registry

    registry._ensure_loaded()
    r_names = sorted(
        q.name for q in registry.REGISTRY.values() if q.oracle is None
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as f:
        text = f.read()
    problems = []
    for name in r_names:
        # its row in the [R] table: "| `name` | why | strong test |"
        m = re.search(rf"^\| `{re.escape(name)}` \|([^|]*)\|([^|]*)\|",
                      text, re.M)
        if not m:
            problems.append(f"{name}: no [R]-table row in COVERAGE.md")
            continue
        cited = re.findall(r"tests/(test_\w+\.py)", m.group(2))
        if not cited:
            problems.append(f"{name}: [R] row cites no tests/test_*.py")
            continue
        for fn in cited:
            if not os.path.exists(os.path.join(repo, "tests", fn)):
                problems.append(f"{name}: cited {fn} does not exist")
    assert not problems, "; ".join(problems)


# ---------------------------------------------------------------------------
# r7 oracle-hygiene gates — the two r6 driver hash-fails were representation
# and FP-order defects the value-level sweep could not see. These make both
# classes permanently un-reintroducible.

def test_oracle_output_types_no_hugeint(duck):
    """DuckDB types sum(integer) as HUGEINT (int128) by default; Spark has
    no int128, so a HUGEINT output column hashes differently driver-side
    even when every value fits in int64 (r6: events_running_reset's
    `segment`). Binder-only check (con.sql is lazy — no execution), so the
    whole registry costs < 1 s."""
    bad = {}
    for name, sql in sorted(_ORACLES.items()):
        rel = duck.sql(sql)
        wide = [
            f"{c}: {t}"
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() in ("HUGEINT", "UHUGEINT")
        ]
        if wide:
            bad[name] = wide
    assert not bad, f"oracles with int128 output columns: {bad}"


_DOUBLE_COLS = (
    "c_acctbal", "s_acctbal", "p_retailprice", "o_totalprice",
    "l_extendedprice", "l_discount", "l_tax", "value",
)
# l_quantity is a double column but integral 1..50 by data construction,
# so its sums are exact in both engines (< 2^53).
_INTEGRAL_DOUBLES = ("l_quantity",)


def _balanced_arg(sql: str, start: int) -> tuple[str, int]:
    """sql[start] == '(' — return (inner text, index past close paren)."""
    depth, j = 1, start + 1
    while depth and j < len(sql):
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
        j += 1
    return sql[start + 1 : j - 1], j


def test_fp_lint_column_lists_disjoint():
    """The lint's exemption mechanism is list membership: a double column
    is order-UNSAFE iff it is in _DOUBLE_COLS; _INTEGRAL_DOUBLES names
    the double-typed-but-integral columns deliberately excluded (their
    sums are exact below 2^53). The two lists must stay disjoint or the
    exemption silently breaks."""
    assert not set(_DOUBLE_COLS) & set(_INTEGRAL_DOUBLES)


def test_oracle_no_fp_order_dependent_sums():
    """FP-sum lint: a double `sum` is partition-order dependent, so a [Q]
    oracle may sum a true double column ONLY as `round(sum(col), k>=4)` of
    a BARE column (the events `value` convention — rounding absorbs the
    order-dependent ulps), never a product/quotient of doubles (magnitude
    amplification voids the round bound — the exact r6
    rel_bloom_prune_join failure). Arithmetic over money columns must use
    the scaled-int64 cents pattern (CAST(round(x*100) AS BIGINT)) or an
    explicit DECIMAL cast. CASE...THEN <int> sums are integer sums and
    exempt regardless of what the condition references."""
    import re

    violations = []
    for name, sql in sorted(_ORACLES.items()):
        low = sql.lower()
        # spans of round(X, k) with k >= 4 — the sanctioned wrappers
        round_spans = []
        for m in re.finditer(r"\bround\s*\(", low):
            arg, end = _balanced_arg(low, m.end() - 1)
            km = re.search(r",\s*(\d+)\s*$", arg)
            if km and int(km.group(1)) >= 4:
                round_spans.append((m.start(), end))
        for m in re.finditer(r"\bsum\s*\(", low):
            arg, _end = _balanced_arg(low, m.end() - 1)
            a = arg.strip()
            compact = a.replace(" ", "").replace("\n", "")
            refs = [
                c for c in _DOUBLE_COLS if re.search(rf"\b{c}\b", a)
            ]
            if not refs:
                continue  # only integral doubles / non-doubles involved
            if "cast(round(" in compact or "decimal" in compact:
                continue  # scaled-int cents or decimal-exact pattern
            if re.fullmatch(
                r"case\s+when\s+.*\s+then\s+\d+\s+else\s+\d+\s+end",
                a, re.S,
            ):
                continue  # integer-valued CASE sum
            bare = re.fullmatch(r"(\w+\.)?(\w+)", a)
            wrapped = any(
                s <= m.start() and _end <= e for s, e in round_spans
            )
            if bare and bare.group(2) in _DOUBLE_COLS and wrapped:
                continue  # round(sum(value), k>=4) convention
            violations.append(f"{name}: sum({a[:80]})")
    assert not violations, (
        "order-dependent double sums in [Q] oracles (use scaled-int "
        "cents or round(sum(bare_col), k>=4)): " + "; ".join(violations)
    )


def test_canon_type_regressions():
    """Anchor the r6 counterexamples at the type-canonicalization level:
    the checker must distinguish exactly the representations the driver's
    hash distinguishes, and collapse the ones driver rows prove it
    collapses (int32 row_number vs BIGINT oracle — green since r2)."""
    from tools.oracle_check import _canon_type

    assert _canon_type("HUGEINT") == "i128" != _canon_type("bigint")
    assert _canon_type("int") == _canon_type("BIGINT") == "i"
    assert _canon_type("DECIMAL(18,2)") == _canon_type("decimal(38,2)")
    assert _canon_type("DECIMAL(18,2)") != _canon_type("DECIMAL(18,6)")
    assert _canon_type("DECIMAL(18,2)") != _canon_type("double")
    assert _canon_type("DOUBLE") == _canon_type("float") == "f"
    assert _canon_type("DOUBLE[]") == _canon_type("array<double>") == "f[]"
    assert _canon_type("VARCHAR") == _canon_type("string")
    assert _canon_type("TIMESTAMP WITH TIME ZONE") == _canon_type("timestamp")
    assert _canon_type("STRUCT(a INTEGER)") == _canon_type("struct<a:int>")


def test_r6_failures_reproduce_under_fixed_checker(duck):
    """The r6-failing oracle SHAPES, replayed against the hardened checker
    legs: the old events_running_reset oracle (un-cast window sum) must
    now FAIL type parity, and the old rel_bloom_prune_join oracle (double
    product sum) must FAIL the FP lint's classification. Proves the local
    gates would have caught both before rotation."""
    import re

    from tools.oracle_check import _canon_type

    old_segment_sql = """
SELECT user_id,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS segment
FROM events LIMIT 1
"""
    rel = duck.sql(old_segment_sql)
    types = {c: _canon_type(str(t)) for c, t in zip(rel.columns, rel.types)}
    assert types["segment"] == "i128", (
        "DuckDB no longer widens window sum(int) to HUGEINT — "
        "revisit the type-parity rationale"
    )
    # and the FIXED oracle shape lands on i64
    rel2 = duck.sql(
        "SELECT CAST(sum(1) OVER () AS BIGINT) AS segment FROM events LIMIT 1"
    )
    assert _canon_type(str(rel2.types[0])) == "i"

    old_bloom_arg = "l.l_extendedprice * (1 - l.l_discount)"
    compact = old_bloom_arg.replace(" ", "")
    assert "cast(round(" not in compact and "decimal" not in compact
    assert not re.fullmatch(r"(\w+\.)?(\w+)", old_bloom_arg.strip())
    # => the lint classifies it as a violation (non-bare double product)


def test_signed_zero_canon_distinct():
    """r9's third value-equal/hash-different class: IEEE -0.0 == +0.0 in
    Python, but the driver hashes serialized doubles and the sign bit
    differs. The checker canon must keep them DISTINCT (the r9 checker
    collapsed them, so local sweeps passed while the driver flagged
    sim_dim_covariance)."""
    from tools.oracle_check import _canon

    assert _canon(float("-0.0")) != _canon(0.0)
    assert _canon(0.0) == 0.0
    # nested containers inherit the leg
    assert _canon([-0.0]) != _canon([0.0])
    # and genuine nonzero values are untouched
    assert _canon(-1.5) == -1.5


def test_r9_signed_zero_reproduces_under_fixed_checker(duck):
    """Replay the r9-failing oracle SHAPE: the OLD sim_dim_covariance
    readout (bare round() of a double covariance quotient) emits -0.0 at
    sf0.01 cell (6,10); the FIXED shape (round() + 0.0) emits none.
    Proves (a) the planted -0.0 exists so the new canon leg has teeth,
    and (b) the shipped canonicalization removes it."""
    import math

    from posts_vectorizer_spark.plans.queries_stats import (
        _DIM_COVARIANCE_SQL,
    )

    old_sql = _DIM_COVARIANCE_SQL.replace("round(c.cov, 6) + 0.0",
                                          "round(c.cov, 6)")
    assert old_sql != _DIM_COVARIANCE_SQL, "fixture drifted: +0.0 gone"

    def neg_zeros(sql: str) -> int:
        rows = duck.sql(sql).fetchall()
        return sum(
            1
            for r in rows
            for v in r
            if isinstance(v, float) and v == 0.0
            and math.copysign(1.0, v) < 0
        )

    assert neg_zeros(old_sql) >= 1, (
        "DuckDB round() no longer emits -0.0 here — planted regression "
        "fixture needs a new -0.0 source"
    )
    assert neg_zeros(_DIM_COVARIANCE_SQL) == 0


# ---------------------------------------------------------------------------
# r12 lint (VERDICT r11 item 8): unrounded-double OUTPUT columns.
# The r11 red row (events_ipw_ate) emitted three double columns computed by
# arithmetic with no round() — violating SURVEY §5.2 float discipline and
# re-opening the decimal→double-conversion / last-ulp classes. This lint
# freezes the surface: every (query, column) where the oracle outputs a
# DOUBLE whose defining expression does arithmetic WITHOUT round() must be
# in the snapshot below. The grandfathered pairs are the established safe
# devices audited r12 (fixed-shape readouts of EXACT integer/decimal
# sufficient statistics — identical IEEE op sequences both engines, the
# playbook's "in-row fixed-order folds over IDENTICAL operands" class).
# Adding a NEW pair requires the same audit: the operands must be exact
# (integer/decimal lattice, < 2^53 scaled units) and the op sequence
# fixed-shape (no cross-row double accumulation) — otherwise round to the
# decimal grid instead (the ipw r12 rewrite is the template).

_UNROUNDED_DOUBLE_OK = frozenset((
    ("curation_conformal_threshold", "coverage"),
    ("curation_quality_gate", "repetition"),
    ("curation_reliability_diagram", "ece"),
    ("curation_reliability_diagram", "frac_positive"),
    ("curation_reliability_diagram", "mean_score"),
    ("dedup_minhash_estimate_eval", "est_jaccard"),
    ("events_acf_lags", "acf"),
    ("events_bradley_terry", "strength"),
    ("events_cmh_stratified_ab", "chi2"),
    ("events_cmh_stratified_ab", "odds_ratio_mh"),
    ("events_croston_intermittent", "croston_forecast"),
    ("events_croston_intermittent", "sba_forecast"),
    ("events_diff_in_diff", "delta_control"),
    ("events_diff_in_diff", "delta_treat"),
    ("events_diff_in_diff", "did"),
    ("events_diff_in_diff", "z"),
    ("events_ewma_control", "lcl"),
    ("events_ewma_control", "ucl"),
    ("events_forecast_mase_eval", "mae_model"),
    ("events_forecast_mase_eval", "mae_naive"),
    ("events_forecast_mase_eval", "mase"),
    ("events_hill_tail", "alpha"),
    ("events_hill_tail", "hill"),
    ("events_kmv_set_ops", "est_a"),
    ("events_kmv_set_ops", "est_b"),
    ("events_kmv_set_ops", "est_union"),
    ("events_kmv_set_ops", "jaccard"),
    ("events_ks_ab", "d"),
    ("events_logrank_test", "z"),
    ("events_mann_kendall_trend", "z"),
    ("events_mannwhitney_ab", "z"),
    ("events_page_hinkley", "ph_down"),
    ("events_page_hinkley", "ph_up"),
    ("events_rfm_segments", "avg_frequency"),
    ("events_rfm_segments", "avg_recency_days"),
    ("events_seasonality_strength", "f_seasonal"),
    ("events_seasonality_strength", "f_trend"),
    ("events_transition_entropy", "h_cond"),
    ("events_transition_entropy", "h_marginal"),
    ("events_transition_entropy", "predictability"),
    ("events_welch_ttest", "df"),
    ("events_welch_ttest", "t"),
    ("rel_anova_oneway", "eta_squared"),
    ("rel_anova_oneway", "f_stat"),
    ("rel_benford_digit_test", "observed_p"),
    ("rel_chi2_independence", "cramers_v"),
    ("rel_ddsketch_quantiles", "est_value"),
    ("rel_groupby_agg", "sum_disc_price"),
    ("rel_levene_test", "eta_squared"),
    ("rel_levene_test", "f_stat"),
    ("rel_map_type_ops", "share"),
    ("rel_market_basket", "lift"),
    ("rel_mutual_information", "h_x"),
    ("rel_mutual_information", "h_y"),
    ("rel_mutual_information", "mi"),
    # r12 additions (audited at registration): Kruskal-Wallis H and
    # epsilon² are fixed-shape double expressions of exact <2^53
    # pinned lattice stats (sum12·1e6 ≤ ~1e13 at 10x bench scale,
    # tf9 ≤ 1e9) — the MI/chi2 readout device, no cross-row double sum
    ("rel_kruskal_wallis", "h"),
    ("rel_kruskal_wallis", "eps_sq"),
    # stream_chi2_drain shares rel_chi2_independence's grandfathered
    # readout (chi2_readout — same expressions, same audit)
    ("stream_chi2_drain", "chi2"),
    ("stream_chi2_drain", "cramers_v"),
    # kn_logprob's audited device verbatim: exact decimal sum of
    # 6dp-pinned per-transition terms / exact count, one IEEE division
    ("text_witten_bell_bigram", "wb_logprob"),
    # fixed-shape double z over exact <2^53 run/sign counts (the
    # Welch/KS readout class)
    ("events_runs_test", "z"),
    ("events_runs_test", "mu_runs"),
    ("events_runs_test", "sigma_runs"),
    # same class: one fixed-shape z over exact per-tier integer counts
    ("events_cochran_armitage", "z"),
    # the KW drain emits the batch query's grandfathered readout
    # (kw_readout — same expressions, same audit)
    ("stream_kruskal_drain", "h"),
    ("stream_kruskal_drain", "eps_sq"),
    ("rel_mutual_information", "nmi"),
    ("rel_tpch_q11_important_customers", "total_value"),
    ("rel_tpch_q15_top_supplier", "total_revenue"),
    ("rel_tpch_q2_min_cost_supplier", "supply_cost"),
    ("rel_tpch_q8_market_share", "mkt_share"),
    ("sim_clustering_coefficient", "clustering_coeff"),
    ("sim_dim_covariance", "cov"),
    ("sim_embedding_quantize", "scale"),
    ("sim_label_centroid_drift", "cos_sim"),
    ("sim_margin_bitext_mining", "cosine"),
    ("sim_margin_bitext_mining", "margin"),
    ("sim_recall_report", "recall"),
    ("sim_zscore_outliers", "md2"),
    ("stream_anova_drain", "eta_squared"),
    ("stream_anova_drain", "f_stat"),
    ("stream_benford_drain", "observed_p"),
    ("stream_ddsketch_drain", "est_value"),
    ("stream_good_turing_drain", "p_gt"),
    ("stream_good_turing_drain", "r_star"),
    ("stream_good_turing_drain", "unseen_mass"),
    ("stream_jsd_drain", "jsd"),
    ("stream_kmv_drain", "est_a"),
    ("stream_kmv_drain", "est_b"),
    ("stream_kmv_drain", "est_union"),
    ("stream_kmv_drain", "jaccard"),
    ("stream_mutual_info_drain", "h_x"),
    ("stream_mutual_info_drain", "h_y"),
    ("stream_mutual_info_drain", "mi"),
    ("stream_mutual_info_drain", "nmi"),
    ("stream_novelty_drain", "novelty"),
    ("stream_python_source_drain", "score"),
    ("stream_quality_gate_drain", "repetition"),
    ("stream_reliability_drain", "ece"),
    ("stream_reliability_drain", "frac_positive"),
    ("stream_reliability_drain", "mean_score"),
    ("stream_transition_entropy_drain", "h_cond"),
    ("stream_transition_entropy_drain", "h_marginal"),
    ("stream_transition_entropy_drain", "predictability"),
    ("stream_zipf_drain", "intercept"),
    ("stream_zipf_drain", "r2"),
    ("stream_zipf_drain", "slope"),
    ("stream_zscore_drain", "md2"),
    ("text_burstiness", "fano"),
    ("text_burstiness", "mean_per_doc"),
    ("text_chao1_richness", "chao1"),
    ("text_chao1_richness", "unseen_vocab_share"),
    ("text_code_mixing_entropy", "mix_entropy"),
    ("text_domain_mix_weights", "actual_share"),
    ("text_domain_mix_weights", "target_share"),
    ("text_good_turing", "p_gt"),
    ("text_good_turing", "r_star"),
    ("text_good_turing", "unseen_mass"),
    ("text_heaps_law_fit", "beta"),
    ("text_heaps_law_fit", "ln_k"),
    ("text_heaps_law_fit", "r2"),
    ("text_jsd_source_drift", "jsd"),
    # the same audited device again (r12): exact decimal sum of 6dp
    # log-probs / exact transition count, one IEEE division
    ("text_jelinek_mercer_bigram", "jm_logprob"),
    ("text_kneser_ney_bigram", "kn_logprob"),
    ("text_mattr_diversity", "mattr"),
    ("text_ngram_novelty", "novelty"),
    ("text_quality_profile", "distinct_ratio"),
    ("text_rank_correlation_eval", "spearman_rho"),
    ("text_rank_correlation_eval", "tau_b"),
    ("text_readability", "flesch"),
    ("text_repetition_signals", "distinct_ratio"),
    ("text_repetition_signals", "dup_bigram_frac"),
    ("text_repetition_signals", "top_token_frac"),
    ("text_rouge_lead_eval", "rouge1_precision"),
    ("text_rouge_lead_eval", "rouge1_recall"),
    ("text_rouge_lead_eval", "rouge2_precision"),
    ("text_rouge_lead_eval", "rouge2_recall"),
    ("text_stupid_backoff_trigram", "sb_logprob"),
    ("text_token_gini", "gini"),
    ("text_token_gini", "mean_tokens"),
    # the token_gini grandfathered value-grid Gini readout, restated
    # over TYPE frequencies (r12): fixed-shape expressions of exact
    # DECIMAL(38,0)/BIGINT sums — batch + its zero-new-state drain
    ("text_vocab_gini", "gini"),
    ("text_vocab_gini", "mean_freq"),
    ("stream_vocab_gini_drain", "gini"),
    ("stream_vocab_gini_drain", "mean_freq"),
    # Newman degree assortativity (r12): the spearman_rho device —
    # one fixed-shape num/(sqrt*sqrt) of exact DECIMAL(38,0) moment
    # sums; regular graphs NULL explicitly (both dual forms)
    ("sim_degree_assortativity", "assortativity"),
    ("sim_degree_assortativity_ann", "assortativity"),
    # Theil decomposition (r12): three fixed-shape double divisions
    # of exact DECIMAL(38,9) term sums by the exact BIGINT total
    ("rel_theil_decomposition", "theil_total"),
    ("rel_theil_decomposition", "theil_between"),
    ("rel_theil_decomposition", "theil_within"),
    ("text_zipf_fit", "intercept"),
    ("text_zipf_fit", "r2"),
    ("text_zipf_fit", "slope"),
    ("tfidf_term_frequency", "tf"),
    ("tfidf_top_keywords", "weight"),
))


def _defining_exprs(sql: str, col: str):
    """Expressions aliased `AS col` in sql — backward depth-0 scan to the
    enclosing comma/SELECT (the mirror of _balanced_arg)."""
    import re as _re

    out = []
    for m in _re.finditer(rf'\bas\s+"?{_re.escape(col)}"?\b', sql, _re.I):
        depth, j = 0, m.start() - 1
        while j >= 0:
            ch = sql[j]
            if ch == ")":
                depth += 1
            elif ch == "(":
                if depth == 0:
                    break
                depth -= 1
            elif depth == 0 and ch == ",":
                break
            j -= 1
        seg = sql[j + 1 : m.start()]
        out.append(_re.sub(r"\bselect\b", "", seg, flags=_re.I).strip())
    return out


def test_oracle_no_new_unrounded_double_outputs(duck):
    """Every DOUBLE output column produced by round()-free arithmetic is
    pinned to the audited snapshot — a new one fails here until it is
    consciously added (with the exactness audit the snapshot header
    describes). Binder-only (lazy duck.sql), so the whole registry is
    cheap. The three r11 events_ipw_ate columns must stay OFF the list:
    the r12 rewrite states them as DECIMAL(18,6) grid points."""
    import re as _re

    new = []
    for name, sql in sorted(_ORACLES.items()):
        rel = duck.sql(sql)
        for c, ty in zip(rel.columns, rel.types):
            if str(ty).upper() not in ("DOUBLE", "FLOAT", "REAL"):
                continue
            for e in _defining_exprs(sql, c):
                el = e.lower()
                if "round" in el:
                    continue
                if _re.search(r"[-+*/]", el):
                    if (name, c) not in _UNROUNDED_DOUBLE_OK:
                        new.append((name, c, e[:60]))
                    break
    assert not new, (
        "NEW unrounded-double output columns (audit exactness per the "
        f"snapshot header, then add or round): {new}"
    )
    assert not {p for p in _UNROUNDED_DOUBLE_OK if p[0] == "events_ipw_ate"}
