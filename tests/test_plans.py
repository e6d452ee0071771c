"""Physical-plan guardrails: the scale properties SURVEY.md §4 relies on
must be visible in explain output — pushdown reaching the parquet scan,
column pruning, broadcast joins on dimension tables, no cartesian products
where a broadcast was intended."""

from __future__ import annotations

import __spark_entry__ as E
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushed_to_scan(spark):
    df = E.queries()["rel_scan_filter_project"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_discount)" in plan or "GreaterThan(l_discount" in plan
    # pruned read schema: only the needed columns reach the scan
    assert "l_extendedprice" in plan and "l_returnflag" not in plan


def test_flagship_uses_broadcast_joins(spark):
    df = E.queries()["tfidf_doc_vectors"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dim_join_broadcasts(spark):
    df = E.queries()["rel_join_broadcast_agg"](spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_plan_has_no_global_sort_of_full_input(spark):
    df = E.queries()["rel_orderby_limit"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_plan_build_triggers_no_jobs(spark):
    """Constructing every registered query must be purely declarative: no
    driver-side action (count/collect/toPandas) may fire at plan-build time.
    Catches regressions like the langid vocab_size .count() (VERDICT r1)."""
    from posts_vectorizer_spark.sources import load_tables

    sc = spark.sparkContext
    # First touch of each parquet path fires a one-off schema-inference job;
    # warm the scan cache so the loop below measures only builder behavior.
    load_tables(spark, SF_ORACLE)
    skip = {
        # streaming drain runs the stream by contract
        "stream_vectorize_drain",
        # brute-force kernels materialize the broadcast build side at build
        # (documented dimension-table contract; bounded by n_tiles)
        "sim_cosine_topk",
        "sim_cosine_near_dups",
        "sim_knn_graph_mutual",  # reciprocity join over the same kernel
        # streaming drains / finite python stream source run by contract
        "stream_tumbling_drain",
        "stream_python_source_drain",
        # model fits / fixpoint loops are inherently iterative jobs at build
        "sim_ivf_ann",
        "sim_kmeans_portable",  # Lloyd iterations are jobs by contract
        "sim_ivf_portable",  # trains the same lists at build
        # histogram-bisection passes are bounded driver actions by contract
        # (1-row stats + <=4096-row histogram)
        "rel_quantile_bisect",
        "mllib_minhash_near_dups",
        "mllib_doc_vectors_wide",
        "dedup_components",
        "dedup_keep_longest",  # builds on the components fixpoint
        "dedup_split_leakage_safe",  # likewise (components -> split)
        "sim_dbscan",  # core-core connectivity runs the same fixpoint
        # runs a streaming drain by contract
        "stream_stateful_user_totals",
        "stream_interval_join",
        "stream_interval_join_outer",
        "rel_observe_audit",  # observed metrics exist only after the pass
        "source_python_sink_roundtrip",  # runs its ledger write by contract
        "stream_python_sink_drain",  # runs its stream drain by contract
        "source_ledger_compaction",  # runs its write+OPTIMIZE by contract
        "source_ledger_skipping",  # runs its range-partitioned write by contract
        "source_ledger_quarantine",  # runs its write + dead-letter count by contract
        "source_ledger_time_travel",  # runs its two commits by contract
        "stream_upsert_drain",
        "stream_cdc_drain",
        "stream_dedup_drain",
        "stream_idf_increment",
        # writes the ORC copy it then reads — fixture setup, inherently jobs
        "source_orc_roundtrip",
        "source_schema_evolution",
        # ingest demos: materialize the text/CSV/JSON files they then read
        # distributed — the file writes are fixture setup, inherently jobs
        "source_vec_model_table",
        "source_csv_json_roundtrip",
        "source_partitioned_pruning",
        # late-r4 wave: Lloyd/codebook training and topk-kernel broadcast
        # builds are jobs at build by the same contracts as above
        "sim_pagerank_knn",       # topk kernel build side (like knn_graph)
        "sim_semdedup_prune",     # trains the coarse lists (Lloyd)
        "sim_pq_quantize",        # trains per-subspace codebooks (Lloyd)
        "sim_ivfpq_search",       # trains coarse lists + codebooks (Lloyd)
        "stream_static_join_drain",        # runs the drain by contract
        "stream_lsh_index_drain",          # runs the index drain by contract
        "stream_session_drain",            # runs the drain by contract
        "stream_minhash_index_drain",      # runs the index drain by contract
        "sim_recall_report",               # topk kernel + Lloyd train at build
        "source_bucketed_colocated_join",  # writes the bucketed tables
        # r8 introduction wave: topk-kernel broadcast builds / stream
        # drains are jobs at build by the same contracts as above
        "sim_dim_prefix_recall",   # two topk kernel passes (prefix + full)
        "sim_hard_negatives",      # two label-masked topk kernel passes
        "stream_ddsketch_drain",   # runs its micro-batch drain by contract
        # r8-built wave (staged r9) — listed ahead of introduction:
        "sim_maxsim_late_interaction",  # maxsim kernel broadcast build
        "sim_margin_bitext_mining",     # two topk kernel passes
        "sim_adamic_adar_links",        # topk kernel edge list at build
        "stream_psi_drift_drain",       # pins ref stats + runs its drain
        "sim_kcore_peeling",            # topk kernel edge list at build
        # r9-built wave (staged r10) — listed ahead of introduction:
        "sim_rq_quantize",              # two Lloyd trains at build
        "stream_cms_drain",             # runs its micro-batch drain
        "stream_hll_drain",             # runs its micro-batch drain
        "stream_quality_gate_drain",    # pins the LM + runs its drain
        "stream_zscore_drain",          # runs its micro-batch drain
        "stream_kmv_drain",             # runs its micro-batch drain
        "stream_reliability_drain",     # runs its micro-batch drain
        # r10-built wave (introduced r11) — stream drains run their
        # micro-batch loop by contract; the ADC scan trains its
        # per-subspace codebooks (Lloyd) at build like the other PQ
        # queries above:
        "stream_benford_drain",
        "stream_zipf_drain",
        "stream_novelty_drain",
        "sim_pq_adc_scan",
        # r11-built wave (introduced r12) — the five new drains run
        # their micro-batch loop by contract; both HITS forms
        # materialize their edge list at build (topk kernel broadcast
        # / LSH bucket join + the persisted iteration input):
        "stream_mutual_info_drain",
        "stream_transition_entropy_drain",
        "stream_good_turing_drain",
        "stream_anova_drain",
        "stream_jsd_drain",
        "sim_hits_hubs_authorities",
        "sim_hits_ann",
        # r12 optimization: the iterative graph operators now CHECKPOINT
        # their edge producer (cache.checkpoint_tracked — the lineage cut
        # that removed ~85 s of per-consumer replanning from
        # sim_hits_ann), and localCheckpoint materializes AQE stages at
        # build, so these run their producer jobs at plan-build time by
        # contract (the *_ann forms' LSH bucket join / the witnesses'
        # topk kernel edge build):
        "sim_adamic_adar_links_ann",
        "sim_kcore_peeling_ann",
        # r13 optimization: the unrolled power-iteration steps are now
        # checkpoint_tracked (the same lineage cut as the graph family),
        # and localCheckpoint materializes the covariance AQE stages at
        # build by the same contract as the entries above:
        "sim_pca_power_iteration",
        # r12-built graph queries: they route through checkpoint_tracked
        # edge producers + topk-kernel builds, so they run jobs at plan
        # build exactly like the HITS/kcore forms above.
        "sim_triangle_count",
        "sim_triangle_count_ann",
        "sim_degree_assortativity",
        "sim_degree_assortativity_ann",
        "sim_label_propagation",  # topk kernel edge build at plan build
        # r12-built drains run their micro-batch loop by contract
        "stream_chi2_drain",
        "stream_theil_sen_drain",
        "stream_utf8_drain",
        "stream_kruskal_drain",
        "stream_auc_drain",
        "stream_vocab_gini_drain",
        "stream_llr_drain",
        "stream_isotonic_drain",
    }
    baseline = set(sc.statusTracker().getJobIdsForGroup())
    for name, fn in E.queries().items():
        if name in skip:
            continue
        fn(spark, SF_ORACLE)  # build only — no action on the result
        jobs = set(sc.statusTracker().getJobIdsForGroup()) - baseline
        assert not jobs, f"{name} launched job(s) {sorted(jobs)} at plan build"


def test_flagship_fact_side_shuffles_once(spark):
    """The r4 flagship plan claim: the candidate/token fact side crosses
    the wire EXACTLY once (the doc_id repartition of the token-array
    relation); tf, weights, and the final dim agg all run on that one
    partitioning (doc_id is a subset of every downstream grouping key).
    Word-keyed exchanges belong to the vocab-sized dimension chain only."""
    import re

    df = E.queries()["tfidf_doc_vectors"](spark, SF_ORACLE)
    plan = _plan(df)
    doc_exchanges = re.findall(r"Exchange hashpartitioning\(doc_id", plan)
    assert len(doc_exchanges) == 1, plan[:2000]
    # the aggregations that used to shuffle must not appear as exchanges
    assert not re.search(r"Exchange hashpartitioning\(doc_id[^)]*, word", plan)
    assert not re.search(r"Exchange hashpartitioning\(doc_id[^)]*, vec_id", plan)
    assert not re.search(r"Exchange hashpartitioning\(doc_id[^)]*, dim", plan)


def test_prefix_join_ranks_prefix_once(spark):
    """dedup_prefix_filter_join ranks its prefix once: both sides of the
    self-join read one persisted prefix, so every doc_id exchange in the
    plan is the rank window's one node (one plan id, printed under each
    side's cache scan), not a copy per side."""
    import re

    plan = _plan(E.queries()["dedup_prefix_filter_join"](spark, SF_ORACLE))
    ids = re.findall(
        r"Exchange hashpartitioning\(doc_id#\d+L?, \d+\)[^\n]*\[plan_id=(\d+)\]", plan
    )
    assert len(set(ids)) == 1, ids


def test_doc_vectors_reuses_word_vectors_caches(spark):
    """doc_vectors after word_vectors over the same corpus reuses the
    token base and the IDF stats that word_vectors persisted: the IDF is
    not recomputed, so no new persistent RDD appears."""
    from posts_vectorizer_spark.cache import release_caches
    from posts_vectorizer_spark.operators import tfidf
    from posts_vectorizer_spark.sources import load_table

    release_caches()
    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")
    def rdds() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    tfidf.word_vectors(docs, emb, "en").write.format("noop").mode("overwrite").save()
    before = rdds()
    tfidf.doc_vectors(docs, emb, "en").write.format("noop").mode("overwrite").save()
    assert not rdds() - before


def test_tpch_star_joins_broadcast_dims(spark):
    """Q3/Q5: every dimension side broadcasts; only the fact-fact join
    shuffles. No cartesian products."""
    for name, min_bcast in (("rel_tpch_q3_priority", 1), ("rel_tpch_q5_region_volume", 3)):
        df = E.queries()[name](spark, SF_ORACLE)
        plan = _plan(df)
        assert plan.count("BroadcastHashJoin") >= min_bcast, name
        assert "CartesianProduct" not in plan, name


def test_asof_join_single_shuffle(spark):
    """The union-merge AS-OF form: exactly one exchange hashes user_id (for
    the window sort); no range-join explosion, no cartesian product."""
    df = E.queries()["events_asof_last_purchase"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_release_caches_leaves_no_persistent_rdds(spark):
    """Engine persists are tracked and releasable: after running a
    cache-heavy query and releasing, no NEW cached RDDs remain (VERDICT r1
    anti-pattern #5 — leaked caches accumulating in a long session)."""
    from posts_vectorizer_spark.cache import release_caches

    release_caches()  # drop anything left behind by other tests
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    for name in ("tfidf_doc_vectors", "dedup_minhash_near_dups"):
        df = E.queries()[name](spark, SF_ORACLE)
        df.write.mode("overwrite").format("noop").save()
    assert release_caches() > 0  # the queries did take tracked caches
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - baseline
    assert not leaked


def test_release_caches_removes_tracked_scratch(spark, tmp_path, monkeypatch):
    """Tracked scratch dirs die with the release sweep (r12 ADVICE: tmpfs
    directories accumulated across a bench/test session); untracked ones
    (the drains' process-lifetime source copies) survive it."""
    import os

    from posts_vectorizer_spark.cache import release_caches
    from posts_vectorizer_spark.sources.catalog import scratch_dir

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    release_caches()
    tracked = scratch_dir("t_")
    kept = scratch_dir("k_", tracked=False)
    assert os.path.isdir(tracked) and os.path.isdir(kept)
    release_caches()
    assert not os.path.exists(tracked)
    assert os.path.isdir(kept)


def test_release_caches_frees_checkpoint_blocks(spark):
    """checkpoint_tracked's localCheckpoint blocks are OUTSIDE the
    CacheManager, so DataFrame.unpersist() alone cannot free them (r12
    ADVICE): release_caches must unpersist the underlying checkpointed
    RDD explicitly, or a long session running the iterative graph family
    accumulates MEMORY_AND_DISK blocks until JVM GC. Two checkpoint-heavy
    graph queries back-to-back, then release: executor storage must be
    back at baseline."""
    from posts_vectorizer_spark.cache import release_caches

    release_caches()
    baseline = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    for name in ("sim_hits_hubs_authorities", "sim_kcore_peeling"):
        df = E.queries()[name](spark, SF_ORACLE)
        df.write.mode("overwrite").format("noop").save()
    assert release_caches() > 0
    leaked = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - baseline
    assert not leaked


def test_whole_stage_codegen_active(spark):
    df = E.queries()["rel_groupby_agg"](spark, SF_ORACLE)
    df.collect()  # AQE finalizes the plan (and codegen annotations) on run
    # '*(n)' node prefixes mark whole-stage-codegen stages in the simple
    # plan string; the agg over the scan must be inside one.
    plan = _plan(df)
    assert "*(" in plan and "HashAggregate" in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring join key lets the join read
    co-located buckets with NO Exchange — the storage-layout move that
    turns the biggest repeated shuffle at 100 TB into a scan property.
    Asserts the physical plan: SortMergeJoin present, zero Exchange."""
    from pyspark.sql import functions as F

    from posts_vectorizer_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    ords = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    for t in ("b_li", "b_ord"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .option("path", str(tmp_path / "b_li")).saveAsTable("b_li"))
    (ords.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .option("path", str(tmp_path / "b_ord")).saveAsTable("b_ord"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_li").join(
            spark.table("b_ord"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually runs
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("b_li", "b_ord"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stacked_windows_share_one_exchange(spark):
    """SCD2 and reset-segmented sums claim both their windows run on ONE
    user-keyed Exchange (SCALE.md waves 6/10) — the segment refinement
    must not introduce a second shuffle."""
    for name in ("events_scd2_versions", "events_running_reset"):
        plan = _plan(E.queries()[name](spark, SF_ORACLE))
        n_exchange = plan.count("Exchange hashpartitioning")
        assert n_exchange == 1, f"{name}: {n_exchange} hash Exchanges"


def test_decorrelated_q17_broadcasts_both_sides(spark):
    """rel_subquery_correlated claims the brand-pruned part list AND the
    per-part stats broadcast back (SCALE.md wave 5): two broadcast joins,
    no sort-merge."""
    plan = _plan(E.queries()["rel_subquery_correlated"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dq_fk_check_is_broadcast_anti(spark):
    plan = _plan(E.queries()["rel_dq_constraints"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_lm_tables_broadcast_back(spark):
    """The unigram/bigram LMs and PMI claim vocab-sized broadcast joins
    (idf_table shape) — no sort-merge join may appear."""
    for name in ("text_unigram_logprob", "text_bigram_logprob",
                 "text_pmi_bigrams"):
        plan = _plan(E.queries()[name](spark, SF_ORACLE))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_decontaminate_broadcasts_eval_side(spark):
    plan = _plan(E.queries()["dedup_decontaminate"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_shuffle_free(spark):
    """MinHash signatures are per-row array_min folds over the per-doc
    shingle array — the plan must contain NO Exchange (the old explode +
    groupBy-of-k-mins shuffled #docs x #shingles rows, the pipeline's
    largest exchange at scale). The only allowed exchange source is the
    spread() rebalance in front of the CPU-heavy tokenizer stage."""
    from posts_vectorizer_spark.operators import dedup
    from posts_vectorizer_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _plan(dedup.minhash_signatures(docs))
    # one round-robin rebalance from spread(); zero hash-partition
    # exchanges (i.e. no aggregation/join shuffle anywhere)
    assert "hashpartitioning" not in plan.lower()
    assert "HashAggregate" not in plan


def test_bucketed_colocated_join_query_has_no_join_key_exchange(spark):
    """The registered source_bucketed_colocated_join query must join its
    bucketed tables WITHOUT an order-key Exchange on either side (the
    only allowed exchange is the final small groupBy(o_orderpriority));
    broadcast disabled so the co-location, not a broadcast, removes the
    shuffle."""
    import re

    from tests.conftest import SF_SMOKE

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the REGISTERED query, not a lookalike — so edits to the query
        # itself cannot silently break the no-exchange guarantee
        j = E.queries()["source_bucketed_colocated_join"](spark, SF_SMOKE)
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert not re.search(r"Exchange hashpartitioning\((o|l)_orderkey", plan), plan
        assert j.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q19_disjunction_pushes_derived_prefilters(spark):
    """rel_tpch_q19_disjunctive's OR-of-ANDs spans both join sides; the
    cross-side disjunction can't push, but Catalyst must push each side's
    PROJECTION of it — the brand/size disjunction into the part scan and
    the quantity-range disjunction into the lineitem scan — so parquet
    row-group stats prune both scans (the docstring's 100 TB claim)."""
    df = E.queries()["rel_tpch_q19_disjunctive"](spark, SF_ORACLE)
    plan = _plan(df)
    part_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "part.parquet" in ln
    ]
    li_scans = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "lineitem.parquet" in ln
    ]
    # explain toString() truncates long filter lists mid-token; assert on
    # the prefix that always survives: the pushed disjunction tree with
    # each side's own column inside it.
    assert part_scans and "Or(Or(And(EqualTo(p_brand" in part_scans[0]
    li_pushed = li_scans[0].split("PushedFilters:")[1]
    assert "Or(Or(And(" in li_pushed
    assert "l_quantity" in li_scans[0]
    assert "BroadcastHashJoin" in plan


def test_q16_not_in_runs_as_plain_anti_join(spark):
    """The NOT-IN rewrite must produce a shuffleable LEFT ANTI join, never
    the broadcast-only null-aware anti join (NAAJ caps the build side at
    driver memory; see the query docstring)."""
    df = E.queries()["rel_tpch_q16_dormant_parts"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "NAAJ" not in plan and "null-aware" not in plan.lower()


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL (ORDER BY + LIMIT per outer row) must
    decorrelate: per-row sorted limits become a WindowGroupLimit below
    the shuffle plus one equi-join — never a per-row subquery loop or a
    cartesian product."""
    df = E.queries()["rel_lateral_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_filters_vocab_before_shuffle_and_uses_group_limit(spark):
    """text_bm25_topk's scale contract: the query-vocabulary filter must
    run BEFORE the (doc_id, word) aggregation shuffle (shuffled volume ∝
    queried-term postings, not corpus tokens), the df/stats/qterms sides
    must broadcast, and the per-query top-k must execute as a
    WindowGroupLimit (partial top-k below the final shuffle), never a
    global sort of all scored docs."""
    import re as _re

    df = E.queries()["text_bm25_topk"](spark, SF_ORACLE)
    plan = _plan(df)
    # partial top-k below the final per-query shuffle
    assert "WindowGroupLimit" in plan and ", Partial" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the vocab IN-filter sits directly on the explode output, pre-shuffle
    assert _re.search(r"Filter word#\d+ IN \(", plan), plan
    # tf is persisted and read by BOTH the scoring join and the df branch
    # (without it the df aggregate re-tokenizes the whole corpus); the
    # plan prints one cache scan per consumer.
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_q6_pushes_all_three_predicates_to_scan(spark):
    """rel_tpch_q6_forecast_revenue is the pure pushdown benchmark: the
    date range, discount band, and quantity cap must ALL reach the
    parquet scan's PushedFilters (row-group min/max pruning), leaving a
    join-free single-aggregate plan."""
    df = E.queries()["rel_tpch_q6_forecast_revenue"](spark, SF_ORACLE)
    # toString() truncates the PushedFilters list mid-token and the same
    # line carries ReadSchema (so bare column names match vacuously);
    # formatted explain prints the full pushed-filter list.
    plan_fmt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    pushed = plan_fmt.split("PushedFilters:")[1].split("\n")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    assert "LessThanOrEqual(l_discount" in pushed
    assert "LessThan(l_quantity" in pushed
    plan = _plan(df)
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_interval_coverage_single_user_exchange(spark):
    """events_interval_coverage claims ONE user_id hash Exchange serves
    both gaps-and-islands windows and both grouped aggregations
    (SCALE.md eval wave) — the island refinement must not re-shuffle."""
    plan = _plan(E.queries()["events_interval_coverage"](spark, SF_ORACLE))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"{n_exchange} hash Exchanges"
    # duration filter pushed into the scan's data filters, not a
    # post-scan Filter over the full table
    assert "PushedFilters: [" in plan


def test_sparse_pairs_join_on_word_no_cartesian(spark):
    """sim_sparse_tfidf_pairs' pair generation must be an equi-join on
    word (shuffle bounded by Sum df^2 of the CAPPED vocabulary), with
    the doc_a < doc_b cut as a join residual — never a cartesian
    product, and the only nested-loop join allowed is the 1-row
    n_docs scalar broadcast."""
    plan = _plan(E.queries()["sim_sparse_tfidf_pairs"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    # the pair join is keyed on word (hash or sort-merge — AQE's pick),
    # never nested-loop
    assert ("BroadcastHashJoin [word" in plan
            or "SortMergeJoin [word" in plan
            or "ShuffledHashJoin [word" in plan)
    # every nested-loop join in the tree is the 1-row scalar cross
    # (n_docs broadcast), textually repeated under each occurrence of
    # the persisted weight relation — all must be Cross builds
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


def test_r7_staged_plan_shapes(spark):
    """Physical-plan pins for the r7 staged wave's scale claims:
    char_entropy is shuffle-free (no Exchange — pure per-row work);
    the ddsketch readout has no second aggregate pass over the sketch
    (a single bucket groupBy feeds the window; the level join is a
    broadcast nested loop over 3 rows, never a SortMergeJoin); SNM's
    candidates come from window frames, not a self-join (no Cartesian,
    no SortMergeJoin)."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    def SQ(name):
        return resolve_query(name)

    ent = _plan(SQ("text_char_entropy")(spark, SF_ORACLE))
    assert "Exchange" not in ent
    assert "transform" in ent and "aggregate" in ent  # the HOF pair

    dds = _plan(SQ("rel_ddsketch_quantiles")(spark, SF_ORACLE))
    assert dds.count("HashAggregate") <= 2, (
        "more than partial+final of ONE aggregate — the second-total "
        "regression the r7 trend measurement removed"
    )
    assert "SortMergeJoin" not in dds

    snm = _plan(SQ("dedup_sorted_neighborhood")(spark, SF_ORACLE))
    assert "CartesianProduct" not in snm
    assert "SortMergeJoin" not in snm
    assert "Window" in snm


def test_r8_staged_plan_shapes(spark):
    """Physical-plan pins for the r8-built wave's scale claims:
    chunk_sliding is shuffle-free (no Exchange anywhere — tokenize +
    transform + explode inherit the scan partitioning, the property the
    scale trend measured as 0 shuffle bytes); dim_covariance and
    kneser_ney persist their multiply-consumed relations (the plan
    probe caught 3 and ~5 corpus re-scans respectively before the
    persists landed) and neither ever needs a SortMergeJoin or
    Cartesian product at oracle scale."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    ch = _plan(resolve_query("text_chunk_sliding")(spark, SF_ORACLE))
    assert "Exchange" not in ch
    assert "Generate" in ch  # the explode — narrow, not a join

    cov = _plan(resolve_query("sim_dim_covariance")(spark, SF_ORACLE))
    assert "SortMergeJoin" not in cov and "CartesianProduct" not in cov
    assert cov.count("InMemoryTableScan") >= 3, (
        "cov relation must be cache-reused by its three consumers"
    )

    kn = _plan(resolve_query("text_kneser_ney_bigram")(spark, SF_ORACLE))
    assert "SortMergeJoin" not in kn and "CartesianProduct" not in kn
    assert kn.count("InMemoryTableScan") >= 5, (
        "dbg/bg must be cache-reused across the LM chain"
    )


def test_r9_wave_plan_shapes(spark):
    """Structural twins of the r9-wave SCALE.md claims: the GIF codec
    queries are shuffle-free scan-stage maps (zero Exchange); the
    partition-checksum audit reads only its four columns and combines
    map-side (exactly one Exchange); the quality gate broadcasts the
    vocab-sized LM side rather than sort-merging it."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    # r12 optimization: the tiny (doc_id, w, h) synth base is rebalanced
    # round-robin across cores before the codec mapInPandas (sources.spread
    # — the single-row-group fixture otherwise pins the whole LZW
    # encode+decode to ONE task). The PAYLOAD still never shuffles: the
    # only Exchange is the round-robin repartition of the 16-byte key
    # rows, and no hash/aggregation exchange exists anywhere.
    gif = _plan(resolve_query("multimodal_gif_ingest")(spark, SF_ORACLE))
    assert "Exchange hashpartitioning" not in gif
    assert gif.count("Exchange") == 1 and "RoundRobinPartitioning" in gif
    anim = _plan(
        resolve_query("multimodal_gif_frame_sample")(spark, SF_ORACLE)
    )
    assert "Exchange hashpartitioning" not in anim
    assert anim.count("Exchange") == 1 and "RoundRobinPartitioning" in anim

    chk = _plan(resolve_query("rel_partition_checksums")(spark, SF_ORACLE))
    assert chk.count("Exchange") == 1  # the 32-key partial->final combine
    assert "o_orderdate" in chk and "o_totalprice" not in chk

    gate = _plan(resolve_query("curation_quality_gate")(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in gate
    assert "CartesianProduct" not in gate


def test_sq8_scan_quantizes_in_row(spark):
    """The r12 sq8 rework claim: quantize/reconstruct/dot-product run
    IN-ROW against a broadcast 64-element min/max grid, so the only
    hash exchanges are the grid aggregate and the per-query top-k
    window — never a per-vector explode/re-collect shuffle (the first
    draft had vec_id-keyed reassembly exchanges)."""
    import re

    from posts_vectorizer_spark.plans.registry import resolve_query

    df = resolve_query("sim_sq8_scan")(spark, SF_ORACLE)
    plan = _plan(df)
    assert not re.search(r"Exchange hashpartitioning\(vec_id", plan), (
        "per-vector reassembly shuffle reappeared"
    )
    assert plan.count("Exchange hashpartitioning(query_id") == 1
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    )


def test_r12_wave_plan_shapes(spark):
    """Plan asserts for the r12-built staged wave — SCALE.md's shape
    claims enforced in explain output, not prose: the collocation
    miner, the Theil decomposition, and the Jelinek-Mercer LM
    broadcast their reductions back (no sort-merge join anywhere);
    each k-center greedy round ends in TakeOrderedAndProject (never a
    global sort of the corpus); the survival-family additions carry
    no join at all past the user-keyed aggregate."""
    from posts_vectorizer_spark.plans.registry import resolve_query

    for name in (
        "text_dunning_llr",
        "rel_theil_decomposition",
        "text_jelinek_mercer_bigram",
    ):
        plan = _plan(resolve_query(name)(spark, SF_ORACLE))
        assert "SortMergeJoin" not in plan, name
        assert "Broadcast" in plan, name

    plan = _plan(resolve_query("curation_kcenter_coreset")(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan

    # pure aggregation chains: no join of any kind may appear
    for name in ("events_rmst", "events_cumulative_incidence",
                 "text_vocab_gini"):
        plan = _plan(resolve_query(name)(spark, SF_ORACLE))
        assert "SortMergeJoin" not in plan, name
