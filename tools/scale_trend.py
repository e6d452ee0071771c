"""Measured scaling curves for the headline operators at 1x/3x/10x.

The sandbox caps generated data at sf0.1, so every 100 TB argument in
SCALE.md is an extrapolation from plan shape. This tool replaces the
extrapolation's first decade with measurement: it materializes 1x/3x/10x
variants of the sf0.1 inputs to parquet (so the timed path includes the
real scan, like bench.py) and times each operator best-of-2 after warmup,
with bench.py's session and timing helpers, recording wall / executor
task + cpu time / shuffle bytes.

Input scaling is semantics-preserving:
- documents for DEDUP ops: each copy k suffixes every word with `_k`
  (regexp on \\S+), so copies are content-disjoint — duplicate groups and
  near-dup pairs replicate per copy instead of exploding quadratically
  across copies (10x data => ~10x pairs, the honest scaling shape).
- documents for TF-IDF: plain copies with shifted doc_ids — same
  vocabulary, 10x docs; the vocab-sized broadcast side stays FIXED while
  the fact side grows, exactly the 100 TB asymmetry the plan argues for.
- lineitem: plain copies with shifted l_orderkey (Q1-shape aggregation
  has a fixed 4-group key space at any scale).
- events: copies shift user_id (and event_id), so the per-user window /
  session operators see k-times MORE groups of the SAME size — the shape
  a 100 TB user-event table actually has (users grow, per-user history
  doesn't).
- embeddings for `cosine_probe`: the build side stays at 1x and the PROBE
  side is k copies with vec_ids shifted by (i+1)*ID_OFFSET (the serving
  asymmetry `similarity.topk(probe=...)` exists for; n_tiles=4, k=5). It
  measures the cosine kernel's per-task Arrow round-trip + Python-worker
  handshake amortizing as the probe grows: wall grows sublinearly and
  wall per probe row (wall_s / (scale * embeddings rows)) falls toward
  the compute floor. The task/cpu ratio carries no scale signal for a Python
  kernel (executorRunTime includes the JVM thread blocked on the worker;
  see SCALE.md).

- the `sink_merge` entry preloads a (doc_id, dim) merge sink with the
  doc vectors of 1x/3x/10x plain document copies (shifted doc_ids; plain
  copies keep every IDF ratio, so the vectors are copies too) and times
  `merge_upsert_parquet` of ONE fixed 30-post batch into it — 15 edited
  posts and 15 new ones — recording wall, rows written and the sink's
  layout after the merge (bucket count and parquet files). Rows written
  show how much of the sink one merge rewrites; wall shows whether that
  rewrite or the merge's fixed cost (jobs, files, commits) dominates.

Expected if the SCALE.md arguments hold: wall grows ~linearly (or better,
while fixed per-query constants still amortize) and shuffle bytes grow
~linearly for the shuffling ops; any super-linear bend is a real finding.

Usage:  python tools/scale_trend.py            # one JSON line on stdout
        python tools/scale_trend.py ddsketch_quantiles cosine_probe sink_merge
                                               # subset by operator name
Results table lives in SCALE.md (measured operator scaling).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = (1, 3, 10)
ID_OFFSET = 10_000_000
WORKDIR = "/tmp/scale_trend"


def main(only: list[str] | None = None) -> None:
    from pyspark.sql import functions as F

    import bench
    from posts_vectorizer_spark.operators import dedup, similarity, tfidf
    from posts_vectorizer_spark.sources import load_table

    sf_dir = bench.SF_DIR
    spark = bench.session("scale_trend")

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    shutil.rmtree(WORKDIR, ignore_errors=True)

    def copies(df, id_col, k, text_suffix=False):
        parts = []
        for i in range(k):
            p = df.withColumn(id_col, F.col(id_col) + F.lit(i * ID_OFFSET))
            if text_suffix and i > 0:
                # word-suffix => copies are content-disjoint (see module doc)
                p = p.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1_{i}")
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    # cosine probe copies are shifted by (i+1)*ID_OFFSET, not i: copy 0 at
    # offset 0 would collide with the build side's ids and exclude
    # self-pairs for that slice only — per-copy work must be uniform
    probe_base = emb.select(
        (F.col("vec_id") + F.lit(ID_OFFSET)).alias("vec_id"), "embedding"
    )

    def materialize(name, df):
        path = f"{WORKDIR}/{name}.parquet"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    inputs = {}
    for k in SCALES:
        inputs[("docs_disjoint", k)] = materialize(
            f"docs_disjoint_{k}x", copies(docs, "doc_id", k, text_suffix=True)
        )
        inputs[("docs_plain", k)] = materialize(
            f"docs_plain_{k}x", copies(docs, "doc_id", k)
        )
        inputs[("lineitem", k)] = materialize(
            f"lineitem_{k}x", copies(lineitem, "l_orderkey", k)
        )
        # shift BOTH ids: user_id scales the group count, event_id keeps
        # rows globally unique
        ev_parts = [
            events.withColumn("event_id", F.col("event_id") + F.lit(i * ID_OFFSET))
            .withColumn("user_id", F.col("user_id") + F.lit(i * ID_OFFSET))
            for i in range(k)
        ]
        ev = ev_parts[0]
        for part in ev_parts[1:]:
            ev = ev.unionAll(part)
        inputs[("events", k)] = materialize(f"events_{k}x", ev)
        inputs[("emb", k)] = materialize(
            f"emb_{k}x", copies(emb, "vec_id", k)
        )
        inputs[("orders", k)] = materialize(
            f"orders_{k}x",
            copies(load_table(spark, sf_dir, "orders"), "o_orderkey", k),
        )

    def q1_shape(li):
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count("*").alias("n"),
            )
        )

    def session_window(ev):
        # mirrors the registered events_session_window (ST6)
        return (
            ev.groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 6).cast("double").alias("total_value"),
            )
        )

    def window_topk(ev):
        # mirrors the W3 top-k-per-group shape (rank within user by value)
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy(
            F.desc("value"), F.asc("event_id")
        )
        return (
            ev.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("user_id", "event_id", "value", "rk")
        )

    # r7-wave family: reuse the EXACT registered plan code by laying the
    # scaled inputs out as {dir}/{table}.parquet (symlinks to the already
    # materialized copies) and calling the query builders on them.
    from posts_vectorizer_spark.plans.registry import resolve_query

    class _SQ:
        def __getitem__(self, name):
            return resolve_query(name)

    SQ = _SQ()

    def table_dir(kind: str, k: int, table: str) -> str:
        d = f"{WORKDIR}/dir_{kind}_{k}x"
        os.makedirs(d, exist_ok=True)
        link = f"{d}/{table}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{WORKDIR}/{kind}_{k}x.parquet", link)
        return d

    operators = {
        "dedup_exact_keep_first": lambda k: dedup.exact_keep_first(
            inputs[("docs_disjoint", k)]
        ),
        "dedup_minhash_near_dups": lambda k: dedup.minhash_near_dups(
            inputs[("docs_disjoint", k)]
        ),
        "tfidf_doc_vectors": lambda k: tfidf.doc_vectors(
            inputs[("docs_plain", k)], emb, "en"
        ),
        "cosine_probe": lambda k: similarity.topk(
            emb, 5, n_tiles=4, probe=copies(probe_base, "vec_id", k)
        ),
        "groupby_agg_q1_shape": lambda k: q1_shape(inputs[("lineitem", k)]),
        "events_session_window": lambda k: session_window(inputs[("events", k)]),
        "events_window_topk": lambda k: window_topk(inputs[("events", k)]),
        # r7 staged family (sketch / drift / entropy / SNM):
        "ddsketch_quantiles": lambda k: SQ["rel_ddsketch_quantiles"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "psi_drift": lambda k: SQ["events_psi_drift"](
            spark, table_dir("events", k, "events")
        ),
        "char_entropy": lambda k: SQ["text_char_entropy"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "sorted_neighborhood": lambda k: SQ["dedup_sorted_neighborhood"](
            spark, table_dir("docs_disjoint", k, "documents")
        ),
        "jsd_source_divergence": lambda k: SQ["text_jsd_source_divergence"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "minhash_estimate_eval": lambda k: SQ["dedup_minhash_estimate_eval"](
            spark, table_dir("docs_disjoint", k, "documents")
        ),
        "skew_gini": lambda k: SQ["rel_skew_gini"](
            spark, table_dir("events", k, "events")
        ),
        "funnel_attribution": lambda k: SQ["events_funnel_attribution"](
            spark, table_dir("events", k, "events")
        ),
        # exact kernel evals over a scaled embedding corpus: expected
        # QUADRATIC (probe x build both grow) — the honest measurement of
        # why serving paths mine from ANN candidates/shards instead
        "dim_prefix_recall": lambda k: SQ["sim_dim_prefix_recall"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "hard_negatives": lambda k: SQ["sim_hard_negatives"](
            spark, table_dir("emb", k, "embeddings")
        ),
        # r8-built wave (staged r9):
        "dim_covariance": lambda k: SQ["sim_dim_covariance"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "kneser_ney": lambda k: SQ["text_kneser_ney_bigram"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "chunk_sliding": lambda k: SQ["text_chunk_sliding"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        # graph + kernel evals over scaled embeddings: kernel side is
        # quadratic by the same argument as above; the AA path join is
        # bounded-degree (n*k^2) so IT should stay linear past the kernel
        "adamic_adar": lambda k: SQ["sim_adamic_adar_links"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "maxsim": lambda k: SQ["sim_maxsim_late_interaction"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "margin_bitext": lambda k: SQ["sim_margin_bitext_mining"](
            spark, table_dir("emb", k, "embeddings")
        ),
        # r8 second wave (staged r9):
        "edit_distance_verify": lambda k: SQ["dedup_edit_distance_verify"](
            spark, table_dir("docs_disjoint", k, "documents")
        ),
        "lsh_param_planner": lambda k: SQ["sim_lsh_param_planner"](
            spark, table_dir("docs_disjoint", k, "documents")
        ),
        "largest_remainder_alloc": lambda k: SQ[
            "rel_largest_remainder_alloc"
        ](spark, table_dir("docs_plain", k, "documents")),
        "code_mixing_entropy": lambda k: SQ["text_code_mixing_entropy"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "kcore_peeling": lambda k: SQ["sim_kcore_peeling"](
            spark, table_dir("emb", k, "embeddings")
        ),
        # r9 ANN-backed graph forms: the edge build is lsh_ann's bucket
        # equi-join instead of the exact kernel — expected LINEAR wall +
        # shuffle where the exact twins above measured 54x/19x at 10x
        "adamic_adar_ann": lambda k: SQ["sim_adamic_adar_links_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "kcore_peeling_ann": lambda k: SQ["sim_kcore_peeling_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "wav_ingest": lambda k: SQ["multimodal_wav_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "bmp_ingest": lambda k: SQ["multimodal_bmp_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "avi_frame_sample": lambda k: SQ["multimodal_avi_frame_sample"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "png_ingest": lambda k: SQ["multimodal_png_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "platt_calibration": lambda k: SQ["curation_platt_calibration"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        # r9-built wave (staged r10):
        "gif_ingest": lambda k: SQ["multimodal_gif_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "qoi_ingest": lambda k: SQ["multimodal_qoi_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "ulaw_ingest": lambda k: SQ["multimodal_ulaw_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "adpcm_ingest": lambda k: SQ["multimodal_adpcm_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "rank_correlation_eval": lambda k: SQ["text_rank_correlation_eval"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "mannwhitney_ab": lambda k: SQ["events_mannwhitney_ab"](
            spark, table_dir("events", k, "events")
        ),
        "markov_stationary": lambda k: SQ["events_markov_stationary"](
            spark, table_dir("events", k, "events")
        ),
        "rfm_segments": lambda k: SQ["events_rfm_segments"](
            spark, table_dir("events", k, "events")
        ),
        "kaplan_meier": lambda k: SQ["events_kaplan_meier"](
            spark, table_dir("events", k, "events")
        ),
        "holt_winters": lambda k: SQ["events_holt_winters"](
            spark, table_dir("events", k, "events")
        ),
        "diff_in_diff": lambda k: SQ["events_diff_in_diff"](
            spark, table_dir("events", k, "events")
        ),
        "page_hinkley": lambda k: SQ["events_page_hinkley"](
            spark, table_dir("events", k, "events")
        ),
        "benford_digit_test": lambda k: SQ["rel_benford_digit_test"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "mann_kendall": lambda k: SQ["events_mann_kendall_trend"](
            spark, table_dir("events", k, "events")
        ),
        "reliability_drain": lambda k: SQ["stream_reliability_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "mattr_diversity": lambda k: SQ["text_mattr_diversity"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "chao1_richness": lambda k: SQ["text_chao1_richness"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "reliability_diagram": lambda k: SQ["curation_reliability_diagram"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        # r10-built wave (staged r11):
        "zipf_fit": lambda k: SQ["text_zipf_fit"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "textrank_keywords": lambda k: SQ["text_textrank_keywords"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "token_gini": lambda k: SQ["text_token_gini"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "alaw_ingest": lambda k: SQ["multimodal_alaw_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "hill_tail": lambda k: SQ["events_hill_tail"](
            spark, table_dir("events", k, "events")
        ),
        "zorder_layout": lambda k: SQ["rel_zorder_layout"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "tga_ingest": lambda k: SQ["multimodal_tga_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "ipw_ate": lambda k: SQ["events_ipw_ate"](
            spark, table_dir("events", k, "events")
        ),
        "zip_manifest": lambda k: SQ["multimodal_zip_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "tiff_packbits_ingest": lambda k: SQ["multimodal_tiff_packbits_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        # r11-built wave (staged r12):
        "mutual_info_drain": lambda k: SQ["stream_mutual_info_drain"](
            spark, table_dir("events", k, "events")
        ),
        "transition_entropy_drain": lambda k: SQ[
            "stream_transition_entropy_drain"
        ](spark, table_dir("events", k, "events")),
        "good_turing_drain": lambda k: SQ["stream_good_turing_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "tar_manifest": lambda k: SQ["multimodal_tar_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "gzip_ingest": lambda k: SQ["multimodal_gzip_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "jsd_source_drift": lambda k: SQ["text_jsd_source_drift"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "hits_hubs_authorities": lambda k: SQ["sim_hits_hubs_authorities"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "hits_ann": lambda k: SQ["sim_hits_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "anova_oneway": lambda k: SQ["rel_anova_oneway"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "ewma_control": lambda k: SQ["events_ewma_control"](
            spark, table_dir("events", k, "events")
        ),
        "bloom_membership": lambda k: SQ["dedup_bloom_membership"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "stupid_backoff": lambda k: SQ["text_stupid_backoff_trigram"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "anova_drain": lambda k: SQ["stream_anova_drain"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "jsd_drain": lambda k: SQ["stream_jsd_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "ico_ingest": lambda k: SQ["multimodal_ico_ingest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "cdc_chunking": lambda k: SQ["dedup_cdc_chunking"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "levene_test": lambda k: SQ["rel_levene_test"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "chi2_independence": lambda k: SQ["rel_chi2_independence"](
            spark, table_dir("events", k, "events")
        ),
        "heaps_law": lambda k: SQ["text_heaps_law_fit"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "croston": lambda k: SQ["events_croston_intermittent"](
            spark, table_dir("events", k, "events")
        ),
        "mase_eval": lambda k: SQ["events_forecast_mase_eval"](
            spark, table_dir("events", k, "events")
        ),
        "rocchio_eval": lambda k: SQ["sim_rocchio_centroid_eval"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "seasonality_strength": lambda k: SQ["events_seasonality_strength"](
            spark, table_dir("events", k, "events")
        ),
        "benford_drain": lambda k: SQ["stream_benford_drain"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "zipf_drain": lambda k: SQ["stream_zipf_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "kleinberg_bursts": lambda k: SQ["events_kleinberg_bursts"](
            spark, table_dir("events", k, "events")
        ),
        "pq_adc_scan": lambda k: SQ["sim_pq_adc_scan"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "mutual_information": lambda k: SQ["rel_mutual_information"](
            spark, table_dir("events", k, "events")
        ),
        "ngram_novelty": lambda k: SQ["text_ngram_novelty"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "transition_entropy": lambda k: SQ["events_transition_entropy"](
            spark, table_dir("events", k, "events")
        ),
        "novelty_drain": lambda k: SQ["stream_novelty_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "label_centroid_drift": lambda k: SQ["sim_label_centroid_drift"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "rake_keywords": lambda k: SQ["text_rake_keywords"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "burstiness": lambda k: SQ["text_burstiness"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "token_waterfill": lambda k: SQ["curation_token_waterfill"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "good_turing": lambda k: SQ["text_good_turing"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "cmh_stratified_ab": lambda k: SQ["events_cmh_stratified_ab"](
            spark, table_dir("events", k, "events")
        ),
        "bradley_terry": lambda k: SQ["events_bradley_terry"](
            spark, table_dir("events", k, "events")
        ),
        "conformal_threshold": lambda k: SQ["curation_conformal_threshold"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "pca_power_iteration": lambda k: SQ["sim_pca_power_iteration"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "ks_ab": lambda k: SQ["events_ks_ab"](
            spark, table_dir("events", k, "events")
        ),
        "welch_ttest": lambda k: SQ["events_welch_ttest"](
            spark, table_dir("events", k, "events")
        ),
        "acf_lags": lambda k: SQ["events_acf_lags"](
            spark, table_dir("events", k, "events")
        ),
        "kmv_drain": lambda k: SQ["stream_kmv_drain"](
            spark, table_dir("events", k, "events")
        ),
        "kmv_set_ops": lambda k: SQ["events_kmv_set_ops"](
            spark, table_dir("events", k, "events")
        ),
        "hll_set_ops": lambda k: SQ["rel_hll_set_ops"](
            spark, table_dir("events", k, "events")
        ),
        "clustering_coefficient": lambda k: SQ["sim_clustering_coefficient"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "mw_domain_reweight": lambda k: SQ["curation_mw_domain_reweight"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "partition_checksums": lambda k: SQ["rel_partition_checksums"](
            spark, table_dir("orders", k, "orders")
        ),
        "perplexity_buckets": lambda k: SQ["text_perplexity_buckets"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "cms_drain": lambda k: SQ["stream_cms_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "gif_frame_sample": lambda k: SQ["multimodal_gif_frame_sample"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "compression_ratio": lambda k: SQ["text_compression_ratio"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "quality_gate": lambda k: SQ["curation_quality_gate"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "rq_quantize": lambda k: SQ["sim_rq_quantize"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "hll_drain": lambda k: SQ["stream_hll_drain"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "rouge_lead_eval": lambda k: SQ["text_rouge_lead_eval"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "quality_gate_drain": lambda k: SQ["stream_quality_gate_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "knn_graph_mutual_ann": lambda k: SQ["sim_knn_graph_mutual_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "zscore_outliers": lambda k: SQ["sim_zscore_outliers"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "zscore_drain": lambda k: SQ["stream_zscore_drain"](
            spark, table_dir("emb", k, "embeddings")
        ),
        # r12-built wave (staged r13):
        "nelson_aalen": lambda k: SQ["events_nelson_aalen"](
            spark, table_dir("events", k, "events")
        ),
        "logrank_test": lambda k: SQ["events_logrank_test"](
            spark, table_dir("events", k, "events")
        ),
        "triangle_count": lambda k: SQ["sim_triangle_count"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "triangle_count_ann": lambda k: SQ["sim_triangle_count_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "roc_auc": lambda k: SQ["curation_roc_auc"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "pr_auc": lambda k: SQ["curation_pr_auc"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "auc_drain": lambda k: SQ["stream_auc_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "label_propagation": lambda k: SQ["sim_label_propagation"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "sq8_scan": lambda k: SQ["sim_sq8_scan"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "binary_hamming": lambda k: SQ["sim_binary_hamming"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "midi_manifest": lambda k: SQ["multimodal_midi_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "utf8_audit": lambda k: SQ["multimodal_utf8_audit"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "kruskal_wallis": lambda k: SQ["rel_kruskal_wallis"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "theil_sen": lambda k: SQ["events_theil_sen"](
            spark, table_dir("events", k, "events")
        ),
        "chi2_drain": lambda k: SQ["stream_chi2_drain"](
            spark, table_dir("events", k, "events")
        ),
        "label_propagation_ann": lambda k: SQ["sim_label_propagation_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "dsir_weights": lambda k: SQ["curation_dsir_weights"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "binseg_changepoint": lambda k: SQ["events_binseg_changepoint"](
            spark, table_dir("events", k, "events")
        ),
        "runs_test": lambda k: SQ["events_runs_test"](
            spark, table_dir("events", k, "events")
        ),
        "witten_bell": lambda k: SQ["text_witten_bell_bigram"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "theil_sen_drain": lambda k: SQ["stream_theil_sen_drain"](
            spark, table_dir("events", k, "events")
        ),
        "protowire_manifest": lambda k: SQ["multimodal_protowire_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "cochran_armitage": lambda k: SQ["events_cochran_armitage"](
            spark, table_dir("events", k, "events")
        ),
        "utf8_corpus": lambda k: SQ["multimodal_utf8_corpus"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "utf8_drain": lambda k: SQ["stream_utf8_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "kruskal_drain": lambda k: SQ["stream_kruskal_drain"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "jelinek_mercer": lambda k: SQ["text_jelinek_mercer_bigram"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "rmst": lambda k: SQ["events_rmst"](
            spark, table_dir("events", k, "events")
        ),
        "vocab_gini": lambda k: SQ["text_vocab_gini"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "vocab_gini_drain": lambda k: SQ["stream_vocab_gini_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "dunning_llr": lambda k: SQ["text_dunning_llr"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "assortativity_witness": lambda k: SQ["sim_degree_assortativity"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "assortativity_ann": lambda k: SQ["sim_degree_assortativity_ann"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "bencode_manifest": lambda k: SQ["multimodal_bencode_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "llr_drain": lambda k: SQ["stream_llr_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "theil_decomposition": lambda k: SQ["rel_theil_decomposition"](
            spark, table_dir("lineitem", k, "lineitem")
        ),
        "kcenter_coreset": lambda k: SQ["curation_kcenter_coreset"](
            spark, table_dir("emb", k, "embeddings")
        ),
        "avro_manifest": lambda k: SQ["source_avro_manifest"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "isotonic_calibration": lambda k: SQ["curation_isotonic_calibration"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "isotonic_drain": lambda k: SQ["stream_isotonic_drain"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "fasttext_bin": lambda k: SQ["source_fasttext_bin"](
            spark, table_dir("docs_plain", k, "documents")
        ),
        "cumulative_incidence": lambda k: SQ["events_cumulative_incidence"](
            spark, table_dir("events", k, "events")
        ),
        # parquet_footer reads the FIXTURE files (path-bound, not the
        # scaled copies) — footer cost is size-independent by design,
        # so the trend tool exercises nothing; excluded deliberately.
    }
    if only:
        operators = {n: f for n, f in operators.items() if n in only}

    results = {}
    for name, build in operators.items():
        # run_once drops tracked persists after every run: Spark's
        # CacheManager matches canonicalized plans, so a fresh build(k)
        # would otherwise silently reuse the previous run's cached
        # mid-plan relation and the trend would measure warm-cache cost,
        # not the per-run plan
        _, snap = bench.run_once(spark, lambda: build(1))  # warmup, unmeasured
        runs = []
        for k in SCALES:
            best = None
            for _ in range(2):
                wall, after = bench.run_once(spark, lambda: build(k))
                m = bench.diff_metrics(snap, after)
                snap = after
                if best is None or wall < best["wall_s"]:
                    best = {
                        "wall_s": round(wall, 3),
                        "task_time_ms": m["task_time_ms"],
                        "cpu_time_ms": m["cpu_time_ms"],
                        "shuffle_write_bytes": m["shuffle_write_bytes"],
                    }
            runs.append({"scale": k, **best})
            print(f"# {name} {k}x: {runs[-1]}", file=sys.stderr)
        r1, r10 = runs[0], runs[-1]
        results[name] = {
            "runs": runs,
            # wall growth per 10x data; ~<=10 means at-worst-linear
            "wall_x_at_10x": round(r10["wall_s"] / max(r1["wall_s"], 1e-9), 1),
            "shuffle_x_at_10x": round(
                r10["shuffle_write_bytes"] / max(r1["shuffle_write_bytes"], 1), 1
            ),
        }

    if not only or "sink_merge" in only:
        results["sink_merge"] = sink_merge(
            spark, materialize("vectors_1x", tfidf.doc_vectors(docs, emb, "en")),
            copies,
        )

    shutil.rmtree(WORKDIR, ignore_errors=True)
    print(json.dumps({"sf_dir": sf_dir, "scales": SCALES, "operators": results}))


def sink_merge(spark, vectors, copies) -> dict:
    """Wall, rows written and layout (``n_buckets``, parquet ``files``)
    of merge_upsert_parquet of one fixed 30-post batch into a (doc_id,
    dim) sink preloaded with ``copies`` of ``vectors`` at each scale,
    best of 2."""
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from posts_vectorizer_spark.sources.sinks import (
        _read_manifest,
        merge_upsert_parquet,
    )

    ids = [r[0] for r in vectors.select("doc_id").distinct().orderBy("doc_id").take(30)]
    edits = vectors.where(F.col("doc_id").isin(ids[:15])).withColumn(
        "component", F.col("component") * 2
    )
    new = vectors.where(F.col("doc_id").isin(ids[15:])).withColumn(
        "doc_id", F.col("doc_id") + F.lit(99 * ID_OFFSET)
    )
    batch_path = f"{WORKDIR}/sink_batch.parquet"
    edits.unionByName(new).write.mode("overwrite").parquet(batch_path)
    batch = spark.read.parquet(batch_path)

    def bucket_files(target: str) -> dict[str, list[str]]:
        return {
            d: [
                os.path.join(target, d, f)
                for f in os.listdir(os.path.join(target, d))
                if f.endswith(".parquet")
            ]
            for d in _read_manifest(target)["buckets"].values()
        }

    def bucket_rows(files: dict[str, list[str]]) -> dict[str, int]:
        return {
            d: sum(pq.ParquetFile(f).metadata.num_rows for f in fs)
            for d, fs in files.items()
        }

    runs = []
    for k in SCALES:
        target = f"{WORKDIR}/sink_{k}x"
        merge_upsert_parquet(spark, copies(vectors, "doc_id", k), target, ["doc_id", "dim"])
        best = None
        for _ in range(2):
            before = bucket_rows(bucket_files(target))
            t0 = time.perf_counter()
            merge_upsert_parquet(spark, batch, target, ["doc_id", "dim"])
            wall = time.perf_counter() - t0
            files = bucket_files(target)
            after = bucket_rows(files)
            run = {
                "wall_s": round(wall, 3),
                "sink_rows": sum(after.values()),
                "rows_written": sum(n for d, n in after.items() if d not in before),
                "n_buckets": _read_manifest(target)["n_buckets"],
                "files": sum(len(fs) for fs in files.values()),
            }
            if best is None or wall < best["wall_s"]:
                best = run
        runs.append({"scale": k, **best})
        print(f"# sink_merge {k}x: {runs[-1]}", file=sys.stderr)
    return {
        "runs": runs,
        "wall_x_at_10x": round(runs[-1]["wall_s"] / max(runs[0]["wall_s"], 1e-9), 1),
    }


if __name__ == "__main__":
    main(sys.argv[1:] or None)
