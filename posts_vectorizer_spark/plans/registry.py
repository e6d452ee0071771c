"""Query registry — the single source of truth behind __spark_entry__.py.

Every implemented operator from SURVEY.md §2 registers here as a named pair
(PySpark builder, DuckDB oracle SQL). ``oracle=None`` marks [R] rows-only
checks (genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import prep_session

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


REGISTRY: dict[str, QueryDef] = {}

# Queries built mid-round AFTER the round's head-50 was locked. The
# introduction-round rule says a new [Q] query takes a head slot the round
# it first appears in queries(); staged entries therefore stay OUT of
# queries()/oracle_sql() until the next round opens, when the flag is
# dropped and they get head slots. They are fully built (code + oracle +
# tests) and are exercised by the local oracle sweep (tools/oracle_check.py
# includes them) — staging defers only the DRIVER-VISIBLE registration,
# never the verification.
STAGED: dict[str, QueryDef] = {}
# r12: the full r11-staged wave of 21 [Q] was introduced — every
# staged=True flag dropped, all 21 took head a-block slots — after the
# r11 verdict's top item (events_ipw_ate, the lone red row) was fixed:
# the query was rewritten onto the exact half-up integer lattice (no
# unrounded doubles; see queries_stats.py and the new
# test_oracle.py::test_oracle_no_new_unrounded_double_outputs lint)
# and re-proves as a spine slot. Queries built mid-r12 after the head
# locks stage here for r13.
# Staging checklist (memory + r7-r11 practice): oracle sweep at
# sf0.001 AND sf0.01 AND sf0.1, vanilla head_check pass, a named
# semantic test, an empty-input pass (tests/test_edge.py), a
# scale_trend measurement, COVERAGE/README/registry-comment updates.
# New queries that run jobs at plan build (stream drains, Lloyd
# trains, kernel/edge-list builds) must be pre-listed for the no-jobs
# skip set (tests/test_plans.py) in this comment.
#
# r12 staged (r13 gets their introduction slots) — all four-way gated
# (sf0.001+sf0.01+sf0.1 sweeps, vanilla head_check, named tests,
# staged empty-input gate, measured 1x/3x/10x trends in SCALE.md,
# evidence in SWEEPS.md):
#   events_nelson_aalen        (cumulative-hazard dual of KM over the
#                               SHARED _surv_risk grid — KM re-proves
#                               as a refactor consumer in the r13
#                               spine)
#   sim_label_propagation      (min-tie mode propagation, pure-integer
#                               packed argmax; exact witness — add to
#                               the no-jobs skip set at introduction:
#                               topk kernel edge build)
#   sim_label_propagation_ann  (production twin over mutualized
#                               lsh_ann lists, same lpa_from_edges;
#                               no-jobs skip: lsh bucket build;
#                               witness 61x vs twin 1.9x at 10x)
#   sim_sq8_scan               (int8 uniform-grid ADC scan, exact
#                               integer lattice end to end)
#   sim_binary_hamming         (sign-bit packing + popcount distance)
#   multimodal_midi_manifest   (REAL SMF: VLQ deltas, running status,
#                               chunk framing verified to the byte)
#   multimodal_utf8_audit      (REAL UTF-8 DFA, five malformation
#                               classes, Python-strict-decoder parity)
#   rel_kruskal_wallis         (tie-corrected rank H off the value
#                               grid; fixed-shape double readout with
#                               audited allowlist entries)
#   events_theil_sen           (median pairwise slope on the 9dp
#                               lattice, exact median finalization)
#   stream_chi2_drain          (SECOND readout of the MI drain's
#                               contingency state — zero new state;
#                               chi2_readout refactor means
#                               rel_chi2_independence re-proves in the
#                               r13 spine; no-jobs skip: runs its
#                               micro-batch drain)
#   curation_dsir_weights      (DSIR hashed-bucket importance weights,
#                               add-1 log-ratios on the 9dp grid)
#   events_binseg_changepoint  (exact SSE-gain split locator on the
#                               38-digit lattice; CUSUM's offline
#                               companion)
#   events_runs_test           (Wald-Wolfowitz up/down randomness;
#                               fixed-shape z with allowlist audit)
#   text_witten_bell_bigram    (4th smoothing family: distinct-
#                               continuation interpolation, KN device)
#   stream_theil_sen_drain     (13th drain; calendar-bounded additive
#                               daily-cents state via the new worker
#                               daily_cents_stream; theil_sen_readout
#                               refactor puts events_theil_sen in the
#                               r13 spine; no-jobs skip: runs its
#                               micro-batch drain)
#   multimodal_protowire_manifest (REAL protobuf wire walk: ULEB128 +
#                               zigzag + 4 wire types, decode_raw
#                               contract — the little-endian varint
#                               sibling of MIDI's VLQ)
#   events_cochran_armitage    (ordered-dose trend test: hour-band
#                               dose x early-purchase outcome;
#                               fixed-shape z, allowlist audit)
#   multimodal_utf8_corpus     (corpus encoding-health rollup — the
#                               drain's batch twin)
#   stream_utf8_drain          (14th drain; 11-key FIXED additive
#                               state via worker utf8_metric_stream;
#                               no-jobs skip: runs its micro-batch
#                               drain)
#   source_parquet_footer      (REAL Thrift-compact footer walker
#                               over the fixture files — the interop
#                               triangle vs DuckDB's C++ reader and
#                               count(*); leaf-vs-group schema proof)
#   stream_kruskal_drain       (15th drain; groups x value-grid
#                               additive state via worker
#                               kw_gcnt_stream; kw_readout refactor —
#                               rel_kruskal_wallis re-proves via its
#                               own introduction slot; no-jobs skip:
#                               runs its micro-batch drain)
#   events_logrank_test        (two-group Mantel-Cox over the
#                               right-censored time-to-first-purchase
#                               grid — the survival family's
#                               hypothesis test beside KM/NA; 9dp
#                               E/V pins, audited fixed-shape z)
#   sim_triangle_count         (per-node triangles + local clustering
#                               coefficient, exact a<b<c enumeration;
#                               exact witness — no-jobs skip at
#                               introduction: topk kernel edge build)
#   sim_triangle_count_ann     (production twin over mutualized
#                               lsh_ann lists, same _triangles
#                               algebra; witness 51x vs twin 1.6x at
#                               10x — the adamic_adar dual-form)
#   curation_roc_auc           (ranking-quality readout of the
#                               calibration signal: U-statistic AUC +
#                               Gini on the exact 2x value grid — the
#                               mannwhitney device)
#   curation_pr_auc            (average precision, threshold-sum form
#                               on the same score grid; 9dp-pinned
#                               per-threshold precision terms)
#   stream_auc_drain           (16th drain; (s, pos, neg) value-grid
#                               additive state via worker
#                               score_grid_stream; auc_readout shared
#                               with curation_roc_auc — the live
#                               gate-discrimination monitor; no-jobs
#                               skip: runs its micro-batch drain)
#   text_jelinek_mercer_bigram (5th smoothing family: fixed λ=7/10
#                               linear interpolation on the shared
#                               bigram relation; one integer-lattice
#                               quotient, KN 6dp-log10 device)
#   events_rmst                (restricted mean survival time — area
#                               under the KM step curve per event
#                               time, exact decimal segments off the
#                               shared _surv_risk grid; the survival
#                               family's effect-size readout)
#   text_vocab_gini            (TYPE-frequency Lorenz/Gini off the
#                               count-of-counts grid — the vocabulary
#                               concentration number beside Zipf and
#                               Heaps; token_gini value-grid device)
#   stream_vocab_gini_drain    (17th drain; THIRD readout of the Zipf
#                               drain's standing vocab state — zero
#                               new state, shared vocab_gini_readout;
#                               no-jobs skip: runs its micro-batch
#                               drain)
#   text_dunning_llr           (Dunning G² collocations — PMI's
#                               significance-aware sibling on the
#                               same bigram relation; round-9 plogp
#                               lattice, signed assoc column)
#   sim_degree_assortativity   (Newman degree-mixing r, exact decimal
#                               moment sums, spearman_rho readout
#                               device; exact witness — no-jobs skip
#                               at introduction: topk kernel build)
#   sim_degree_assortativity_ann (production twin over mutualized
#                               lsh_ann lists, same
#                               assortativity_from_edges; witness
#                               20.1x vs twin 1.9x at 10x; no-jobs
#                               skip: lsh bucket build)
#   multimodal_bencode_manifest (REAL Bencode — the canonical-form
#                               container: sorted-key dict rule
#                               enforced, full integer/length-prefix
#                               grammar rejects, formula oracle)
#   stream_llr_drain           (18th drain; bigram-count additive
#                               state via new worker
#                               bigram_count_stream; llr_readout
#                               refactor — text_dunning_llr re-proves
#                               via its own introduction slot;
#                               no-jobs skip: runs its micro-batch
#                               drain)
#   rel_theil_decomposition    (Theil-T inequality with the additive
#                               between/within split Gini lacks;
#                               ln pinned to 9dp BEFORE the integer
#                               weight — the Zipf/KN device)
#   curation_kcenter_coreset   (greedy k-center exemplar selection —
#                               the coverage-side diverse-subset
#                               operator; unrolled rounds, round-6 +
#                               id-tiebreak total order, per-round
#                               1-row persists)
#   source_avro_manifest       (REAL Avro OCF — metadata map, codec
#                               gate, per-block size + sync verify,
#                               always-zigzag records; the parquet
#                               footer's data-lake sibling)
#   curation_isotonic_calibration (PAV via the minimax identity over
#                               the shared score grid — the
#                               nonparametric calibrator beside
#                               Platt; 9dp block averages, monotone
#                               by construction)
#   stream_isotonic_drain      (19th drain; SECOND readout of the AUC
#                               drain's score-grid state — zero new
#                               state, shared isotonic_readout;
#                               curation_isotonic_calibration
#                               re-proves via its own introduction
#                               slot; no-jobs skip: runs its
#                               micro-batch drain)
#   source_fasttext_bin        (REAL fastText .bin walk — closes
#                               gap-list item 2: magic/version/args/
#                               dict/quant-gate/matrix cross-checks;
#                               .bin-vs-.vec ingestion cross-check)
#   events_cumulative_incidence (Aalen-Johansen competing-risks CIF
#                               off the two-cause duration grid — the
#                               survival ladder's last rung; KM fold
#                               + pinned hazard increments)
#
# r11 staged history (all 21 introduced in the r12 head, below) — all
# four-way gated in r11 (sf0.001+sf0.01+sf0.1 sweeps 6/6 first-try,
# vanilla head_check 6/6, named tests, staged empty-input pass,
# measured 1x/3x/10x trends in SCALE.md, evidence in SWEEPS.md):
#   stream_mutual_info_drain   (ADD-merged contingency cells ->
#                               mi_readout; live dependence monitor)
#   stream_transition_entropy_drain (USER-disjoint split keeps pairs
#                               exact — the first KEY-disjoint drain)
#   stream_good_turing_drain   (SECOND readout of the Zipf drain's
#                               standing vocab state; zero new state)
#   multimodal_tar_manifest    (REAL ustar: octal fields, header
#                               checksum, 512-block walk, tarfile
#                               interop both ways incl. PAX)
#   multimodal_gzip_ingest     (RFC 1952 full FLG grammar, CRC32 +
#                               ISIZE verify, stdlib interop)
#   text_jsd_source_drift      (source-vs-mix JSD, N-scaled plogp
#                               lattice, closed-form p=0 complement)
#   sim_hits_hubs_authorities  (Kleinberg HITS on the RAW directed
#                               top-k graph; L1-normalized unrolled
#                               half-steps — add to the no-jobs skip
#                               set at introduction: topk kernel
#                               broadcast build)
#   rel_anova_oneway           (exact-moment F/eta²; SSB/SSW 3dp
#                               re-pin before double conversion)
#   events_ewma_control        (SPC chart; z_t AND (1-λ)^{2t} as 6dp
#                               decimal recursions, RECURSIVE CTE twin)
#   dedup_bloom_membership     (Kirsch-Mitzenmacher double hashing,
#                               DISTINCT-bit-table filter, verdicts
#                               beside exact digests)
#   text_stupid_backoff_trigram (Brants 2007 cascade, HELD-OUT
#                               even-train/odd-score split so every
#                               backoff branch fires)
#   sim_hits_ann               (HITS production twin over lsh_ann
#                               lists — same hits_from_edges code;
#                               no-jobs skip at introduction: lsh
#                               bucket build)
#   stream_anova_drain         (ADD-merged integer group moments ->
#                               anova_readout; variance monitor)
#   stream_jsd_drain           (ADD-merged (source, word) counts ->
#                               jsd_readout; drift monitor)
#   multimodal_ico_ingest      (ICO container-of-DIBs composition:
#                               doubled biHeight + AND-mask bytes)
#   dedup_cdc_chunking         (Rabin content-defined chunk dedup,
#                               position-independent boundary rule)
#   rel_levene_test            (Brown-Forsythe via value-grid medians
#                               + the shared exact-moment ANOVA)
#   rel_chi2_independence      (full-grid chi² + Cramér's V beside MI
#                               on the same contingency)
#   text_heaps_law_fit         (vocab-growth β over ingestion
#                               checkpoints; ln K, never exp)
#   events_croston_intermittent (demand-size/interval EWMAs over
#                               demand days only; SBA correction)
#   events_forecast_mase_eval  (MASE of the HW fits vs seasonal
#                               naive - the fit->eval loop closed)
#
# r10 staged history (all 21 introduced in the r11 head, below) — all
# four-way gated in r10 (sf0.001+sf0.01+sf0.1 sweeps, vanilla
# head_check, named planted tests, staged empty-input pass, measured
# 1x/3x/10x trends in SCALE.md):
#   text_zipf_fit           (ln-ln OLS over the top-400 words; exact
#                            9dp-pinned sufficient statistics)
#   text_textrank_keywords  (3 unrolled damped power-iteration steps,
#                            PURE-decimal update — no doubles in-loop)
#   text_token_gini         (value-grid Lorenz/Gini, sort-free twin
#                            of rel_skew_gini, 128-bit exact lattice)
#   multimodal_alaw_ingest  (REAL G.711 A-law + tag-6 RIFF container,
#                            exhaustive 65536-value kernel proof)
#   events_hill_tail        (Hill tail-index over top-101 order stats,
#                            TakeOrderedAndProject + exact 9dp sum)
#   rel_zorder_layout       (Morton bit-interleave layout audit,
#                            both-dims span<=15 zone-map invariant)
#   multimodal_tga_ingest   (REAL TGA type-10 scanline RLE, 128-cap +
#                            dual-origin; vectorized run detection)
#   events_ipw_ate          (stratified inverse-propensity ATE — the
#                            causal family beside diff-in-diff)
#   multimodal_zip_manifest (REAL ZIP container: EOCD/central/local
#                            walk, CRC32+size verify, zipfile interop)
#   multimodal_tiff_packbits_ingest (REAL TIFF IFD walk + signed-count
#                            PackBits with the noop rule, multi-strip)
#   sim_rocchio_centroid_eval (nearest-class-mean confusion audit,
#                            broadcast centroids, n*k*d)
#   events_seasonality_strength (Hyndman F_T/F_S on the exact lattice,
#                            >2^53 quotient pinning device)
#   events_kleinberg_bursts (REAL Viterbi + backtrack burst automaton,
#                            exact-decimal fold vs recursive-CTE pair)
#   stream_benford_drain    (additive 9-key digit state -> chi-square
#                            readout; statistical-test drain family)
#   stream_zipf_drain       (additive vocab-count state -> OLS readout;
#                            unbounded-key additive drain)
#   sim_pq_adc_scan         (REAL ADC lookup-table factorization —
#                            candidates priced by m code lookups)
#   rel_mutual_information  (column-pair MI/NMI dependence profile,
#                            N-scaled exact plogp lattice)
#   text_ngram_novelty      (per-doc first-occurrence trigram ratio —
#                            distributable Heaps/redundancy signal)
#   events_transition_entropy (journey H(next|current) +
#                            predictability on the plogp lattice)
#   stream_novelty_drain    (MIN-merge first-occurrence state — the
#                            4th sink combiner; novelty readout)
#   sim_label_centroid_drift (per-label L2+cosine centroid drift —
#                            class-granular embedding drift triage)
#
# r13 head planning (re-locked at r12 closeout; 3 + 43 + 4 = 50):
#   (a) 43 introduction slots — the full r12-staged wave above
#       (events_theil_sen and rel_kruskal_wallis double as their
#       readout-refactor consumers; curation_roc_auc doubles as the
#       auc_readout refactor consumer). No-jobs skip additions: both
#       LPA forms, sim_triangle_count (topk kernel edge build) + the
#       five new drains (chi2 / theil-sen / utf8 / kruskal / auc).
#   (b) spine (3): tfidf_doc_vectors + events_kaplan_meier (its body
#       was refactored onto the shared _surv_risk grid mid-r12) +
#       rel_chi2_independence (its body moved into the shared
#       chi2_readout mid-r12) — the consumer-of-changed-code rule
#       (events_theil_sen's readout refactor is covered by its own
#       introduction slot in (a)).
#   (c) freshness (4): udtf_polymorphic_firstn FIRST (the one r5
#       name the r12 head couldn't fit), then the first 3 of the r6
#       cohort (47 names, tools/cohorts.py list order; the front 12
#       pre-verified vanilla 13/13 with udtf at r12 close, SWEEPS.md).
#       If more introductions land than slots allow, drop cohort
#       names from the END one-for-one. REVERSE option for the r13
#       planner: the staging rule only forbids a staged query
#       entering queries() WITHOUT a head slot — holding part of the
#       38-query wave staged one more round (oldest-staged first
#       into r13, the rest to r14) is legitimate if freshness debt
#       (39 r6-cohort names after this rotation) is judged the
#       bigger risk; the four-way gate evidence in SWEEPS.md does
#       not expire.



def register(
    name: str, oracle: str | None = None, staged: bool = False
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver hands us ITS session; pin the runtime-settable conf
            # our results depend on (UTC timestamps).
            prep_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        if name in REGISTRY or name in STAGED:
            raise ValueError(f"duplicate query name: {name}")
        target = STAGED if staged else REGISTRY
        target[name] = QueryDef(name, wrapped, oracle, fn.__doc__ or "")
        return fn

    return deco


# The correctness driver verifies only the FIRST ~50 entries of queries()
# per round (r2 proved this: 80 of 130 registered queries got no driver
# row, including operator families that were green in r1). This explicit
# head-of-line list pins those 50. Policy (r3 verdict / r4-r6 practice):
# a small SPINE re-proves the flagship plus every direct consumer of code
# changed this round; every other slot ROTATES to [Q] queries that have
# never had a driver CORRECTNESS row, so the driver-green union grows
# every round instead of re-proving standing green rows. New [Q] queries
# take a head slot the round they are introduced. All 50 are [Q]
# oracle-backed. Everything not listed follows in registration
# (cost-ascending) order.
#
# FRESHNESS POLICY (standing, from r7): with the never-checked backlog
# drained, rotating slots re-prove the OLDEST standing green rows first
# (a batch per round, last-green round ascending), so no driver row ages
# past ~4 rounds without a re-proof.
#
# r12 state: executes the r11 verdict's plan (VERDICT.md "Next round"
# items 1-5) and the r12 head arithmetic locked at r11 closeout, with
# ONE adjustment the lock couldn't anticipate: events_ipw_ate (the r11
# red row) was rewritten r12 onto the exact half-up integer lattice
# (queries_stats.py — the verdict's top item) and re-proves as a SPINE
# member (consumer-of-changed-code rule), so freshness takes 27 slots
# (5 + 22), and the LAST r5 cohort name (udtf_polymorphic_firstn —
# judge-re-proved against DuckDB in the r11 session, the least-stale
# choice) drops to r13:
#   (a) 21 introduction slots — the full r11-staged [Q] wave, all
#       four-way gated in r11 (sf0.001+sf0.01+sf0.1 sweeps, vanilla
#       head_check, named tests, empty-input gate, scale trends;
#       SWEEPS.md waves 1-5; judge spot-check 7/7). The five new
#       drains also prove the forced-drain fix (keyed
#       half files — r11 ADVICE item 2); the registered drains it
#       touches were locally re-swept 5/5 (SWEEPS.md).
#   (b) spine (2) — tfidf_doc_vectors (every head) +
#       events_ipw_ate (rewritten this round; HITS witness note:
#       sim_hits_hubs_authorities measured 38 s uncontended at
#       sf0.01 — under the verdict's 1-minute shrink threshold).
#   (c) freshness (27 = 5 + 22): the FIVE r5 names dropped from the
#       r11 head FIRST (pre-verified vanilla 5/5 at r11 closeout,
#       SWEEPS.md), then the next 22 of the 28-name r5 cohort in
#       tools/cohorts.py list order.
_HEAD_ORDER: tuple[str, ...] = (
    # ---- (b) r12 spine (flagship + the rewritten red row):
    "tfidf_doc_vectors", "events_ipw_ate",
    # ---- (a) the 21 introductions (r11-staged wave):
    "stream_mutual_info_drain", "stream_transition_entropy_drain",
    "stream_good_turing_drain", "multimodal_tar_manifest",
    "multimodal_gzip_ingest", "text_jsd_source_drift",
    "sim_hits_hubs_authorities", "rel_anova_oneway",
    "events_ewma_control", "dedup_bloom_membership",
    "text_stupid_backoff_trigram", "sim_hits_ann",
    "stream_anova_drain", "stream_jsd_drain",
    "multimodal_ico_ingest", "dedup_cdc_chunking",
    "rel_levene_test", "rel_chi2_independence",
    "text_heaps_law_fit", "events_croston_intermittent",
    "events_forecast_mase_eval",
    # ---- (c) freshness: the five names dropped from the r11 head...
    "sim_pagerank_knn", "sim_semdedup_prune",
    "stream_vectorize_drain", "text_pmi_bigrams", "text_readability",
    # ---- ...then the next 22 of the r5 cohort (last one -> r13):
    "events_range_join_clicks", "events_transition_matrix",
    "rel_salted_skew_agg", "rel_skyline_pareto", "rel_stats_moments",
    "rel_stratified_sample", "rel_table_profile",
    "rel_tpch_q10_returns", "rel_tpch_q11_important_customers",
    "rel_tpch_q7_nation_volume", "rel_winsorized_agg",
    "sim_ivf_portable", "sim_ivfpq_search", "sim_mmr_rerank",
    "sim_pq_quantize", "sim_recall_report",
    "stream_minhash_index_drain", "text_domain_mix_weights",
    "text_inverted_index", "text_repetition_signals",
    "text_typo_pairs", "text_vocab_coverage",
)


def _ordered() -> list[QueryDef]:
    _ensure_loaded()
    missing = [n for n in _HEAD_ORDER if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"_HEAD_ORDER names not registered: {missing}")
    head = [REGISTRY[n] for n in _HEAD_ORDER]
    seen = set(_HEAD_ORDER)
    return head + [q for n, q in REGISTRY.items() if n not in seen]


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}


def staged_queries() -> dict[str, QueryFn]:
    """Built-but-not-yet-introduced queries (see STAGED). Consumed by
    tools/oracle_check.py and tests; invisible to the driver contract."""
    _ensure_loaded()
    return {q.name: q.fn for q in STAGED.values()}


def staged_oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {q.name: q.oracle for q in STAGED.values() if q.oracle is not None}


def resolve_query(name: str) -> QueryFn:
    """Look a query up by name whether registered or still staged.
    Semantic tests pin behavior by NAME and must not break on the
    introduction round when a query moves STAGED -> REGISTRY (the r8
    transition broke nine r7-written tests that hardcoded
    ``staged_queries()[...]``)."""
    _ensure_loaded()
    q = REGISTRY.get(name) or STAGED.get(name)
    if q is None:
        raise KeyError(f"unknown query: {name}")
    return q.fn


def resolve_oracle(name: str) -> str:
    """resolve_query's oracle twin: the DuckDB SQL for a query whether
    registered or still staged (the r10 transition broke a test that
    hardcoded ``STAGED[...]``.oracle — same class as resolve_query's
    r8 rationale). Raises KeyError for unknown names AND for [R]
    queries, which have no oracle by design."""
    _ensure_loaded()
    q = REGISTRY.get(name) or STAGED.get(name)
    if q is None or q.oracle is None:
        raise KeyError(f"no oracle for query: {name}")
    return q.oracle


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from . import queries_tfidf  # noqa: F401

    # Cost-ascending across modules too: every cheap oracle-backed module
    # registers BEFORE queries_extras' streaming/MLlib drains, so a
    # time-budgeted correctness driver (r1 ran only 50 of 56 entries)
    # checks the hash-matched surface first.
    for mod in ("queries_relational", "queries_text", "queries_dedup",
                "queries_similarity", "queries_events", "queries_advanced",
                "queries_quality", "queries_curation", "queries_corpus",
                "queries_sketch", "queries_timeseries",
                "queries_governance", "queries_lakehouse",
                "queries_stats", "queries_fuzzy", "queries_pipeline",
                "queries_retrieval", "queries_extras",
                # introduced r7 (was STAGED in r6 under the
                # introduction-round rule):
                "queries_tpch2"):
        try:
            __import__(f"{__package__}.{mod}")
        except ModuleNotFoundError as e:
            # Only tolerate THE module itself being absent (incremental
            # rounds); a transitive import failure inside a present module
            # must fail loudly, not silently shrink the query surface.
            if e.name != f"{__package__}.{mod}":
                raise
    _LOADED = True
