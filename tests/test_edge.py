"""Edge-input robustness: every query family must plan and execute against
EMPTY tables without crashing (P9's 'natural no-op' claim, proved rather
than asserted) — the guard against partition files with zero rows, fresh
streams, and filtered-to-nothing inputs at 100 TB."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as E
from tests.conftest import SF_SMOKE

# one representative per family; heavy drains / model fits excluded
EMPTY_SAFE = [
    "rel_scan_filter_project",
    "rel_groupby_agg",
    "rel_window_topk_per_group",
    "rel_histogram_equi_width",
    "text_quality_profile",
    "text_repetition_signals",
    "dedup_exact_keep_first",
    "dedup_minhash_near_dups",
    "events_tumbling_window",
    "events_range_join_clicks",
    "events_hypertable_rollup",
    "tfidf_term_frequency",
    "tfidf_vocabulary",
]

# full-surface queries (graph, survival, codec, drain) that must reduce to
# at most one row on zero-row tables
DEGENERATE_ON_EMPTY = (
    "sim_triangle_count",
    "sim_triangle_count_ann",
    "sim_label_propagation",
    "sim_sq8_scan",
    "sim_binary_hamming",
    "sim_label_propagation_ann",
    "sim_degree_assortativity",
    "sim_degree_assortativity_ann",
    "text_vocab_gini",
    "curation_roc_auc",
    "curation_pr_auc",
    "text_jelinek_mercer_bigram",
    "curation_dsir_weights",
    "text_witten_bell_bigram",
    "curation_isotonic_calibration",
    "text_dunning_llr",
    "events_nelson_aalen",
    "events_logrank_test",
    "events_rmst",
    "events_theil_sen",
    "events_binseg_changepoint",
    "events_runs_test",
    "events_cumulative_incidence",
    "rel_kruskal_wallis",
    "events_cochran_armitage",
    "rel_theil_decomposition",
    "stream_vocab_gini_drain",
    "stream_chi2_drain",
    "stream_theil_sen_drain",
    "multimodal_midi_manifest",
    "multimodal_utf8_audit",
    "multimodal_protowire_manifest",
    "multimodal_utf8_corpus",
    "source_parquet_footer",
    "multimodal_bencode_manifest",
    "source_avro_manifest",
    "source_fasttext_bin",
    "stream_utf8_drain",
    "stream_auc_drain",
    "stream_kruskal_drain",
    "stream_llr_drain",
    "stream_isotonic_drain",
    "curation_kcenter_coreset",
)


# every combining-state drain (streaming/drain.py::state_drain), the
# upsert drains that read a keyed merge sink back, and the batch HLL query
# whose readout stream_hll_drain shares: on zero-row tables each must
# still match its DuckDB oracle (names, types, rows)
EMPTY_ORACLE = (
    "stream_ddsketch_drain",
    "stream_cms_drain",
    "stream_hll_drain",
    "stream_zscore_drain",
    "stream_reliability_drain",
    "stream_benford_drain",
    "stream_zipf_drain",
    "stream_novelty_drain",
    "stream_mutual_info_drain",
    "stream_transition_entropy_drain",
    "stream_good_turing_drain",
    "stream_vocab_gini_drain",
    "stream_anova_drain",
    "stream_jsd_drain",
    "stream_chi2_drain",
    "stream_theil_sen_drain",
    "stream_utf8_drain",
    "stream_auc_drain",
    "stream_kruskal_drain",
    "stream_llr_drain",
    "stream_isotonic_drain",
    "stream_psi_drift_drain",
    "stream_vectorize_drain",
    "stream_upsert_drain",
    "stream_idf_increment",
    "stream_minhash_index_drain",
    "stream_kmv_drain",
    "stream_cdc_drain",
    "stream_lsh_index_drain",
    "stream_quality_gate_drain",
    "rel_hll_portable",
)


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """An sf_dir whose tables have the real schemas but zero rows, one
    parquet FILE per table — the layout both Spark's load_table and the
    oracle's DuckDB views (read_parquet of ``{sf}/{t}.parquet``) read.
    Spark would write a directory at that path, so pyarrow writes it."""
    import pyarrow.parquet as pq

    from posts_vectorizer_spark.sources import TABLES

    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        pq.write_table(
            pq.read_table(f"{SF_SMOKE}/{t}.parquet").slice(0, 0),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.fixture(scope="module")
def ref_empty_sf(tmp_path_factory):
    """The smoke fixture with events cut to ``ts >= 2024-01-16``: the PSI
    queries' reference window is empty while the current window is not.
    The other tables link to the smoke fixture's files."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from posts_vectorizer_spark.sources import TABLES

    d = tmp_path_factory.mktemp("ref_empty_sf")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    split = pa.scalar(dt.datetime(2024, 1, 16), events["ts"].type)
    pq.write_table(
        events.filter(pc.greater_equal(events["ts"], split)),
        str(d / "events.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("name", ["events_psi_drift", "stream_psi_drift_drain"])
def test_psi_matches_oracle_with_empty_reference_window(spark, ref_empty_sf, name):
    """An empty reference window leaves the bucket bounds undefined: every
    current row lands in bucket 0 and the reference share is NULL, as in
    the oracle — no DIVIDE_BY_ZERO, and the drain does not drop the row."""
    from tools.oracle_check import compare_query, duckdb_connection

    problems, _ = compare_query(
        spark, duckdb_connection(ref_empty_sf), name, E.queries()[name],
        E.oracle_sql()[name], ref_empty_sf,
    )
    assert problems == []


@pytest.mark.parametrize("name", EMPTY_SAFE)
def test_query_survives_empty_tables(spark, empty_sf, name):
    rows = E.queries()[name](spark, empty_sf).collect()
    # vocabulary still contains the DICTIONARY_EXTRAS seed words; everything
    # else must be empty, and nothing may raise
    if name != "tfidf_vocabulary":
        assert rows == []


@pytest.mark.parametrize("name", EMPTY_ORACLE)
def test_state_drain_matches_oracle_on_empty_tables(spark, empty_sf, name):
    """No batch carries a row, so the merge sink never materializes state:
    the drain must read out over an EMPTY state relation and agree with
    the oracle — zero rows for most, the one degenerate row where the
    oracle has one (HLL's all-zero registers, AUC's zero counts)."""
    from tools.oracle_check import compare_query, duckdb_connection

    problems, _ = compare_query(
        spark, duckdb_connection(empty_sf), name, E.queries()[name],
        E.oracle_sql()[name], empty_sf,
    )
    assert problems == []


def test_scan_cache_cleared_on_fixture_rewrite(spark, tmp_path):
    """_SCAN_CACHE memoizes analyzed scans per path; rewriting a path
    in-place must be followed by clear_scan_cache() to observe the new
    schema (keyed by path, not mtime — documented footgun)."""
    from posts_vectorizer_spark.sources.catalog import (
        clear_scan_cache,
        load_table,
    )

    d = str(tmp_path)
    spark.range(3).selectExpr("id AS a").write.mode("overwrite").parquet(
        f"{d}/nation.parquet"
    )
    assert load_table(spark, d, "nation").columns == ["a"]
    spark.range(3).selectExpr("id AS a", "id AS b").write.mode(
        "overwrite"
    ).parquet(f"{d}/nation.parquet")
    # memoized: still the stale single-column relation
    assert load_table(spark, d, "nation").columns == ["a"]
    clear_scan_cache()
    assert load_table(spark, d, "nation").columns == ["a", "b"]


def test_bench_headline_line_fits_driver_tail_capture():
    """The driver tail-captures ~2000 bytes of bench stdout; r3's BENCH
    artifact was lost when stage metrics pushed the line to 2.6 KB. Pin
    the contract: the final line built from the real HEADLINE list (with
    worst-case-width timings) stays under 1 KB, parses back, and stage
    metrics are NOT in it."""
    import importlib.util
    import json as _json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    timings = {name: 123.456 for name in bench.HEADLINE}
    line = bench.headline_line(timings, round(sum(timings.values()), 3), 0.1)
    assert len(line.encode()) < 1000, len(line)
    parsed = _json.loads(line)
    assert parsed["queries"] == timings
    assert "stage_metrics" not in parsed


def test_bench_plans_writes_one_section_per_query(spark, tmp_path):
    """`bench.py plans` writes PLANS.md's layout — one `## name` section
    holding a formatted physical plan per query — and only plans: no
    Spark job runs while it writes."""
    import re

    import bench
    from posts_vectorizer_spark.sources import load_tables

    names = ["rel_groupby_agg", "rel_scan_filter_project"]
    # first touch of a parquet path fires a schema-inference job; warm it
    load_tables(spark, SF_SMOKE)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = tmp_path / "plans.md"
    bench.write_plans(spark, SF_SMOKE, str(out), names)
    assert set(tracker.getJobIdsForGroup()) == before
    sections = re.split(r"^## (\S+)$", out.read_text(), flags=re.M)[1:]
    assert sections[::2] == names
    for body in sections[1::2]:
        assert body.count("== Physical Plan ==") == 1


def test_queries_degenerate_on_empty_tables(spark, empty_sf):
    """P9 (empty-input guard) extended to DEGENERATE_ON_EMPTY: every
    listed query must return an empty (or degenerate-diagnostic) result
    on schema-correct zero-row tables, never crash. The r7 empty-input
    smoke caught two real ones: sim_hard_negatives IndexError'd on an
    empty label list, and stream_ddsketch_drain raised on the merge
    sink's never-materialized state."""
    # file-INTROSPECTION queries read footers/containers, which exist
    # regardless of row counts — their natural empty-input output is
    # one row per FILE (and still hash-matches the oracle, whose
    # count(*)s are 0); everything else must degenerate to <= 1 row
    per_file_ok = {"source_parquet_footer"}
    qs = E.queries()
    for name in DEGENERATE_ON_EMPTY:
        n = qs[name](spark, empty_sf).count()
        if name in per_file_ok:
            assert n >= 1, f"{name}: footer walk found no files"
            continue
        assert n <= 1, f"{name}: unexpected rows on empty input"


def test_kernel_graph_queries_survive_tiny_inputs(spark, tmp_path):
    """Single-row and two-row embedding tables through the r8 kernel/graph
    wave: one vector has no possible neighbor (every query must return 0
    rows without crashing — the self-pair exclusion leaves an empty
    candidate set); two vectors produce at most the trivial pair where
    the semantics allow one."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    one = tmp_path / "one"
    two = tmp_path / "two"
    for d, rows in (
        (one, [(1, [1.0] * 64, 0)]),
        (two, [(1, [1.0] * 64, 0), (2, [0.5] * 64, 7)]),
    ):
        d.mkdir()
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(str(d / "embeddings.parquet"))

    for name in (
        "sim_maxsim_late_interaction",
        "sim_adamic_adar_links",
        "sim_adamic_adar_links_ann",
        "sim_triangle_count",
        "sim_triangle_count_ann",
        "sim_kcore_peeling",
        "sim_kcore_peeling_ann",
        "sim_margin_bitext_mining",
    ):
        q = resolve_query(name)
        assert q(spark, str(one)).count() == 0, f"{name} on 1 row"

    # two rows: maxsim pairs them (probe vec_id 1 % 50 != 0 -> no probes
    # actually qualify except none; margin pairs label 0 with label 7);
    # the graph queries see a single mutual edge -> no common neighbors,
    # no 3-core
    assert resolve_query("sim_adamic_adar_links")(spark, str(two)).count() == 0
    assert (
        resolve_query("sim_adamic_adar_links_ann")(spark, str(two)).count()
        == 0
    )
    # one mutual edge -> both endpoints deg 1 -> the deg>=2 filter
    # leaves no triangle rows on either producer
    assert resolve_query("sim_triangle_count")(spark, str(two)).count() == 0
    assert (
        resolve_query("sim_triangle_count_ann")(spark, str(two)).count() == 0
    )
    kc = {r["node"]: r for r in
          resolve_query("sim_kcore_peeling")(spark, str(two)).collect()}
    assert set(kc) == {1, 2}
    assert all(r["deg0"] == 1 and not r["in_core"] for r in kc.values())
    # the ANN twin sees the same trivial graph (both vectors land in some
    # bucket; the pair may or may not share one — degrees are <= 1 either
    # way, so nothing cores)
    for r in resolve_query("sim_kcore_peeling_ann")(
        spark, str(two)
    ).collect():
        assert r["deg0"] <= 1 and not r["in_core"]
    btx = resolve_query("sim_margin_bitext_mining")(spark, str(two)).collect()
    assert len(btx) == 1 and btx[0]["src"] == 1 and btx[0]["dst"] == 2
