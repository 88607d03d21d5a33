"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with a noop sink (full materialization
— count() would let Catalyst prune the measured work away).

The timing core below (``min_wall`` and its helpers) is the one pass
loop of the repo: tools/bench_subset.py, tools/probe_fanout.py and
tools/scale_probe.py import it, so every tool measures by the same
rule — min of N consecutive passes, each from an empty cache.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
from functools import partial
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ulh_etl_spark.cache import release_persisted
from ulh_etl_spark.queries import all_queries
from ulh_etl_spark.session import get_spark

# Headline set: one per operator family — scan+agg, joins (self,
# composite, anti), merge, dedup (exact/minhash/LSH/jaccard),
# similarity, text scoring, event windows/sessionization, multimodal
# decode (Arrow mapInPandas path).
HEADLINE = (
    "q01_pricing_summary",
    "q03_record_type_classify",
    "q05_self_join",
    "q06_composite_key_join",
    "q19_incremental_antijoin",
    "q20_merge_keep_latest",
    "q31_quality_score",
    "q34_dedup_exact",
    "q36_minhash_pairs",
    "q38_ngram_jaccard_pairs",
    "q39_cosine_topk",
    "q44_media_decode",
    "q50_event_window_counts",
    "q51_event_sessionize",
    # Corpus/training-data operators added in rounds 3-4 — bench-
    # tracked so an explode/HOF-style regression in the newest code is
    # caught by BENCH, not by accident (VERDICT r4 §next-round-6).
    "q83_top_bigrams",
    "q85_lsh_decontamination",
    "q87_sequence_pack",
    "q89_chunk_documents",
    "q90_token_budget_mix",
    # Round-5/6 rank, layout, and at-rest-index operators — a
    # regression in global_ntile/global_row_number, Morton keys, or
    # the partition-pruned IVF probe must be visible to BENCH
    # (VERDICT r5 §next-round-4).
    "q91_logprob_tiles",
    "q93_corpus_shuffle_shards",
    "q94_duplicate_gram_fraction",
    "q95_zorder_clustering",
    "q96_ivf_pruned_probe",
    # Round-6 curation additions (salted source cap, cross-source
    # duplication matrix, per-source dup profile, hashed-model score).
    "q84_model_quality_score",
    "q97_source_cap",
    "q98_source_gram_overlap",
    "q99_source_dup_profile",
    # Round-6 dedup additions: semantic (embedding-cluster) dedup and
    # passage-level exact dedup with reassembly.
    "q100_semantic_dedup",
    "q101_passage_dedup",
    # Round-7 additions: keep-best near-dup collapse (missed the r6
    # bench cut), the visual perceptual-hash near-dup pipeline and
    # its cluster rollup, and DSIR importance-weight data selection.
    "q102_neardup_collapse",
    "q103_phash_neardup_pairs",
    "q104_dsir_importance",
    "q105_phash_neardup_clusters",
    "q106_hard_negatives",
    "q107_incremental_dedup",
    "q108_gopher_rules",
    "q109_minhash_estimate",
    # Round-7 additions: boilerplate removal, product quantization
    # (narrow-map encode + ADC recall), Bloom decontamination, and
    # source-fair quality calibration.
    "q110_boilerplate_removal",
    "q111_pq_encode",
    "q112_pq_adc_recall",
    "q113_bloom_decontamination",
    "q114_source_quality_calibration",
    # Round-7 third batch: tokenizer induction + application, scene
    # detection, KN bigram LM, IVF-PQ, blocklist filter.
    "q115_bpe_merges",
    "q116_bpe_tokenize",
    "q117_scene_changes",
    "q118_kneser_ney_scores",
    "q119_ivfpq_topk",
    "q120_blocklist_filter",
    # Round-7 fourth batch: audits (cluster sizes, split leakage,
    # Zipf, profile), span pairs, record linkage, compression ratio.
    "q121_cluster_size_histogram",
    "q122_split_leakage",
    "q123_zipf_slope",
    "q124_span_pairs",
    "q125_column_profile",
    "q126_record_linkage",
    "q127_gram_compression_proxy",
    # Round-8 addition: stride-1 duplicate-span removal.
    "q142_dup_span_removal",
    "q143_temperature_mix",
    "q144_novelty_scores",
    "q145_incremental_neardup",
    "q146_random_projection",
    "q147_audio_neardup",
    "q148_html_extract",
    "q149_sft_render",
    # Round-10 additions: hashed char-trigram language ID, SQ8
    # scalar quantization, vocabulary-coverage audit, rare-gram
    # blocked containment dedup.
    "q150_lang_id_ngram",
    "q151_sq8_encode",
    "q152_vocab_coverage",
    "q153_containment_pairs",
    "q154_hybrid_rrf",
    "q155_rerank_topk",
    "q156_lang_agreement",
    "q157_leakage_free_split",
    "q158_decontamination_report",
    "q159_knn_graph",
    "q160_semantic_clusters",
    "q161_unimax_mix",
    "q162_token_fertility",
    "q163_shard_balance",
    "q164_ewma_anomaly",
    "q165_dirichlet_qlm",
    "q166_posting_stats",
    "q167_bucketed_join",
    "q168_embedding_drift",
    "q169_knn_pagerank",
    "q170_knn_triangles",
    "q171_cms_heavy_hitters",
    "q172_salted_priority_totals",
    "q173_merged_event_stats",
    "q174_embedding_ks_drift",
    "q175_label_propagation",
    "q176_fm_user_registers",
    "q177_bloom_join_reduction",
    "q178_gap_fill_daily",
    "q179_pmi_bigrams",
    "q180_sparse_lexical_topk",
    "q181_embedding_outliers",
    "q182_partition_pruned_totals",
    "q183_peak_concurrency",
    "q184_mad_anomalies",
    "q185_join_size_sketch",
    "q186_knn_graph_multiprobe",
    "q187_knn_recall_uplift",
    "q188_nn_descent",
    "q189_nn_descent_recall",
    "q190_unigram_vocab",
    "q191_unigram_fertility",
    "q192_quantile_registers",
    "q193_quantile_estimates",
    "q194_group_sample",
    "q195_char_entropy",
    "q196_length_batches",
    "q197_cell_skew_canary",
    "q198_two_level_cells",
    "q199_knn_graph_two_level",
    "q200_knn_pagerank_two_level",
    "q201_nn_descent_plateau",
    "q202_quantile_incremental",
    "q203_group_quantiles",
    "q204_recall_cost_curve",
    "q205_nn_descent_random_init",
    "q206_prefix_filter_pairs",
    "q207_pca_top_component",
    "q208_sliding_distinct_users",
    "q209_kcore_peel",
    "q210_kmeans_parallel_init",
    "q211_kmeans_parallel_recluster",
    "q212_sliding_cube_incremental",
    "q213_kmv_source_overlap",
    "q214_priority_sample_sums",
    "q215_bloom_difference_matrix",
    "q216_k_anonymity_profile",
    "q217_ndcg_eval",
    "q218_rank_biased_overlap",
    "q219_greedy_coverage_picks",
    "q220_knn_hits",
    "q221_knn_hubness",
    "q222_cusum_changepoints",
    "q223_order_cube",
    "q224_l_diversity_profile",
    "q225_heaps_vocab_growth",
    "q226_transition_entropy",
    "q227_knn_label_agreement",
    "q228_dup_inflation_by_source",
    "q229_simpson_lexical_diversity",
    "q230_lsh_bucket_histogram",
    "q231_cluster_edge_density",
    "q232_lsh_recall_curve",
    "q233_knn_assortativity",
    "q234_join_skew_profile",
    "q235_interarrival_profile",
    # Round-16 additions: bitmap-sizing pre-flight + prefix-join
    # occupancy canary.
    "q236_decon_bitmap_sizing",
    "q237_prefix_candidate_forecast",
    "q238_watermark_lateness_curve",
    "q239_quality_retention_curve",
    "q240_candidate_hamming_histogram",
    # Round-7 fifth batch: events analytics + market baskets +
    # time-series anomaly detection.
    "q128_event_transitions",
    "q129_cohort_retention",
    "q130_funnel",
    "q131_copurchase_pairs",
    "q132_weekly_anomalies",
    "q133_rfm_segments",
    "q134_corpus_diff",
    "q135_length_buckets",
    "q136_multiprobe_recall",
    "q137_needle_insertion",
    "q138_kcenter_coreset",
    "q139_event_type_anomalies",
    "q140_group_weighted_sample",
    "q141_deletion_impact",
)

# Anchors @ sf0.1, local[32] — the official regression baselines
# recorded in BASELINE.md. q01-q51: round-1 measurements (BENCH_r01).
# q83-q90 did not exist in round 1; their anchors are the round-5
# measurements taken when they entered the headline set. Ratios vs
# this table go to stderr so the stdout contract (one JSON line) is
# untouched.
ANCHOR_SF = 0.1
ANCHOR = {
    "q01_pricing_summary": 0.517,
    "q03_record_type_classify": 0.902,
    "q05_self_join": 0.879,
    "q06_composite_key_join": 0.634,
    "q19_incremental_antijoin": 0.643,
    "q20_merge_keep_latest": 0.683,
    "q31_quality_score": 1.581,
    "q34_dedup_exact": 0.505,
    "q36_minhash_pairs": 1.836,
    "q38_ngram_jaccard_pairs": 4.126,
    "q39_cosine_topk": 0.795,
    "q44_media_decode": 0.558,
    "q50_event_window_counts": 0.417,
    "q51_event_sessionize": 0.828,
    # r5-measured anchors (first bench-tracked round for these):
    "q83_top_bigrams": 0.404,
    "q85_lsh_decontamination": 0.738,
    "q87_sequence_pack": 0.221,
    "q89_chunk_documents": 0.258,
    "q90_token_budget_mix": 0.385,
    # r6-measured anchors (first bench-tracked round for these; q94/
    # q98/q99 measured AFTER the regex-lookahead char_ngrams rewrite):
    "q84_model_quality_score": 0.430,
    "q91_logprob_tiles": 0.379,
    "q93_corpus_shuffle_shards": 0.196,
    "q94_duplicate_gram_fraction": 1.843,
    "q95_zorder_clustering": 0.271,
    "q96_ivf_pruned_probe": 1.166,
    "q97_source_cap": 0.199,
    "q98_source_gram_overlap": 3.007,
    "q99_source_dup_profile": 1.883,
    # r6 dedup additions (first bench-tracked measurements, after the
    # per-row norm precompute):
    "q100_semantic_dedup": 2.082,
    "q101_passage_dedup": 0.407,
    # r7-measured anchors (first bench-tracked round for these):
    # q102/q105 are the iterative components compositions — cost is
    # the per-round fixed overhead of the loop (lazy checkpoint +
    # convergence scalar), which amortizes at scale; the q102 value
    # is the post-pointer-jump measurement (5.56 s before it).
    "q102_neardup_collapse": 3.941,  # r11: star-contraction CC
    "q103_phash_neardup_pairs": 0.928,
    "q104_dsir_importance": 1.363,
    "q105_phash_neardup_clusters": 2.380,
    "q106_hard_negatives": 0.443,
    "q107_incremental_dedup": 0.513,
    "q108_gopher_rules": 0.435,
    # r7 second-batch anchors (min-of-3 warm, same host): q113's cost
    # is dominated by the bloom-build job + the Python probe hop —
    # the price of the memory-bounded path; q79's broadcast variant
    # (q85-adjacent) remains the fast shape while the gram set fits.
    "q110_boilerplate_removal": 0.588,
    "q111_pq_encode": 0.905,
    "q112_pq_adc_recall": 1.244,
    "q113_bloom_decontamination": 1.679,
    "q114_source_quality_calibration": 0.393,
    # r7 third-batch anchors (min-of-3 warm): q115/q116 carry the
    # iterative merge-training jobs (6 rounds over the vocab; q116
    # trains then applies); q119 adds the IVF probe join over q112's
    # ADC machinery.
    "q115_bpe_merges": 1.402,
    "q116_bpe_tokenize": 2.392,
    "q117_scene_changes": 0.520,
    "q118_kneser_ney_scores": 0.861,
    "q119_ivfpq_topk": 1.650,
    "q120_blocklist_filter": 0.341,
    # r7 fourth-batch anchors (min-of-3 warm). q126 is the suite's
    # most expensive single query: ~4.5M in-block levenshtein
    # evaluations (25 nation blocks x ~600²/2 pairs at sf0.1) — the
    # honest O(sum block²) cost of ER candidate verification; see
    # SCALE.md for why PassJoin segment blocking degenerates on this
    # corpus (constant 9-char name prefix) and when it would help.
    # q125's cost is the exact per-column distinct count. q121
    # re-runs the LSH + components pipeline (q102's cost class).
    "q121_cluster_size_histogram": 3.586,
    "q122_split_leakage": 0.824,
    "q123_zipf_slope": 0.261,
    "q124_span_pairs": 0.253,
    # _R16_REANCHOR: the r16 optimization round restructured 15 of
    # these queries' plans (per-column partial-agg profile, unigram
    # artifact persists, NN-Descent / graph-loop lineage truncation,
    # hyperplane/JL literal folds, window-based span attribution,
    # one-pass join-size sketch — see OPTIMIZATION_r16.md). Their old
    # anchors were 1.5-4x above the new steady state, so a future
    # regression back to the OLD plan would read net ~0.7-1.0 and
    # hide. Each is re-anchored to the CONSERVATIVE r16 number: the
    # higher of the two floor-1.00 suite sessions (BENCH_local_r16b)
    # and the dedicated min-of-3 ("dedicated" tag) — suite-warm
    # best-cases are deliberately NOT used (the q203 lesson).
    "q125_column_profile": 0.69,  # re-anchored r16 (see _R16_REANCHOR)
    "q126_record_linkage": 11.472,
    # r8 anchor: the distinct-gram proxy is a NEW query (the old
    # 0.280 anchor belonged to the retired zlib catalog slot)
    "q127_gram_compression_proxy": 0.360,
    # r8 first measurements from bench.py's OWN noop-sink runs — a
    # count()-timed anchor under-measures queries whose cost is in
    # the final projection (q142's clean_text rebuild prunes away
    # under count: 0.49 s pruned vs 2.2 s materialized).
    "q142_dup_span_removal": 2.134,  # re-anchored r16 (dedicated)
    "q143_temperature_mix": 0.711,
    "q144_novelty_scores": 2.124,
    "q145_incremental_neardup": 0.953,
    "q146_random_projection": 0.581,  # re-anchored r16
    "q147_audio_neardup": 2.030,
    "q148_html_extract": 0.393,
    "q149_sft_render": 0.473,
    # round-10 entry measurements (min-of-3 warm, quiet host)
    "q150_lang_id_ngram": 2.224,
    "q151_sq8_encode": 1.001,
    "q152_vocab_coverage": 0.710,
    "q153_containment_pairs": 1.566,
    "q154_hybrid_rrf": 1.203,
    "q155_rerank_topk": 1.658,
    "q156_lang_agreement": 2.269,
    # components-fixpoint family: cost is the per-round loop overhead
    # (q102's anchor rationale), amortizing at scale
    "q157_leakage_free_split": 3.534,  # r11: star-contraction CC
    "q158_decontamination_report": 1.840,
    # q109: re-anchored after the r10 endpoint-sampled audit change
    "q109_minhash_estimate": 0.953,
    "q159_knn_graph": 3.303,
    # r11 re-anchor: mutual edges now come from the nprobe=2
    # multi-probe graph (the r10 verdict's recall fix), and the
    # components engine is the O(log n) star contraction + the kNN
    # build is persisted under the mutual join — net FASTER than the
    # r10 single-probe 8.691 despite 2x candidates.
    "q160_semantic_clusters": 6.11,
    "q161_unimax_mix": 0.346,
    "q162_token_fertility": 0.317,
    "q163_shard_balance": 0.52,
    "q164_ewma_anomaly": 0.276,
    "q165_dirichlet_qlm": 0.721,
    "q166_posting_stats": 0.596,
    "q167_bucketed_join": 1.924,
    "q168_embedding_drift": 0.574,
    # graph batch: q169/q170 rebuild the q159 kNN graph (its 3.3 s
    # anchor covers the cell join); pagerank adds 3 bounded
    # join+agg rounds, triangles one wedge self-join
    "q169_knn_pagerank": 2.809,  # re-anchored r16 (dedicated)
    "q170_knn_triangles": 2.741,  # re-anchored r16 (dedicated)
    "q171_cms_heavy_hitters": 1.594,
    "q172_salted_priority_totals": 1.738,
    "q173_merged_event_stats": 0.411,
    "q174_embedding_ks_drift": 0.408,
    "q175_label_propagation": 2.848,  # re-anchored r16 (dedicated)
    "q176_fm_user_registers": 0.611,
    "q177_bloom_join_reduction": 3.036,
    "q178_gap_fill_daily": 0.522,
    "q179_pmi_bigrams": 0.826,
    "q180_sparse_lexical_topk": 1.635,
    "q181_embedding_outliers": 1.521,
    # q182 includes the partitioned WRITE (150 dirs) + pruned read
    "q182_partition_pruned_totals": 2.955,
    "q183_peak_concurrency": 1.23,
    "q184_mad_anomalies": 0.863,
    "q185_join_size_sketch": 2.167,  # re-anchored r16 (dedicated)
    # r11 batch (min-of-3 warm, quiet box, post single-pass nprobe fix)
    "q186_knn_graph_multiprobe": 6.539,
    # q187/q189/q205 re-anchored r14 (floor-1.00 min-of-3 session):
    # the graph-family default rose nprobe 2 -> 6 (recall 0.36 ->
    # 0.71@4, the q204-priced point), so the multi-probe legs rank
    # ~3x the candidates — a semantics change, not a regression; the
    # untouched-semantics family members stayed UNDER their old
    # anchors even with 3x probes (q160 5.23 vs 6.11, q186 1.78 vs
    # 6.54, q188 2.93 vs 7.06, q201 9.92 vs 19.82 — the r14 fold-
    # exact scoring kernel), so those anchors are kept.
    "q187_knn_recall_uplift": 1.555,  # re-anchored r16
    "q188_nn_descent": 2.364,  # re-anchored r16
    "q189_nn_descent_recall": 3.143,
    "q190_unigram_vocab": 3.59,  # re-anchored r16
    "q191_unigram_fertility": 5.018,
    "q192_quantile_registers": 0.216,
    "q193_quantile_estimates": 0.559,
    "q194_group_sample": 0.342,
    "q195_char_entropy": 0.702,
    "q196_length_batches": 0.542,
    # q197 re-anchored r16 after the ivf_assign BLAS routing
    # (VERDICT r15 #5): suite floor-1.00 session read 0.588 —
    # anchor to it so a future fall back to the interpreted fold
    # flags instead of hiding under the old 0.709.
    "q197_cell_skew_canary": 0.588,
    # r12 anchors, recorded on a measurably slower host than the
    # r8-r11 anchor era (raw sf0.1 lineitem scan 0.56 s vs the ~0.27 s
    # implied by old anchors) — conservative by construction.
    # q198-q200 re-anchored after the coarse_nprobe=2 iteration
    # (sf0.1 min-of-3 warm from the probe runs).
    # q198 re-anchored r16 in the same floor-1.00 session as q197
    # (the canary pair re-anchors together — VERDICT r15 #5): 0.632.
    "q198_two_level_cells": 0.632,
    "q199_knn_graph_two_level": 3.16,
    "q200_knn_pagerank_two_level": 4.08,
    "q201_nn_descent_plateau": 6.472,  # re-anchored r16 (max of 2 suite sessions)
    "q202_quantile_incremental": 0.485,
    # q203 re-anchored r13: the 0.205 r12 anchor was a suite-warm
    # best-case; standalone min-of-5 on the r13 quiet host (floor
    # 1.00x) reads 0.48-0.66 s and the r13 suite run 0.356 s with no
    # plan change (the only r13 delta was the explicit group_col
    # param). Sub-second queries carry a +-0.2 s scheduler band on
    # local[32]; anchor set to the suite number.
    "q203_group_quantiles": 0.356,
    # r13 first anchors (suite min-of-3, floor_ratio 1.00 session):
    "q204_recall_cost_curve": 3.179,
    "q205_nn_descent_random_init": 4.543,  # re-anchored r16 (max of 2 suite sessions)
    "q206_prefix_filter_pairs": 3.926,
    "q207_pca_top_component": 1.227,
    "q208_sliding_distinct_users": 0.577,
    # q209 re-anchored r14: mutual_knn_edges now EAGERLY materializes
    # the kNN persist before the fwd/rev self-join (the sf10 double-
    # build race fix, SCALE.md r14 — 51.1 -> 12.7 s at sf10). At
    # sf0.1 that serializes ~0.8 s of build the lazy race used to
    # overlap; dedicated floor-1.08 min-of-3 reads 2.35 s.
    "q209_kcore_peel": 2.35,
    "q210_kmeans_parallel_init": 1.407,
    "q211_kmeans_parallel_recluster": 1.773,
    "q212_sliding_cube_incremental": 0.926,
    # r14 first anchors (dedicated min-of-3, floor_ratio 1.00
    # session). q213 carries the r14 semantics (endpoint-sampled
    # audit legs + distinct-before-hash build).
    "q213_kmv_source_overlap": 2.205,
    "q214_priority_sample_sums": 0.833,
    "q215_bloom_difference_matrix": 0.988,
    "q216_k_anonymity_profile": 0.228,
    "q217_ndcg_eval": 0.924,
    "q218_rank_biased_overlap": 0.855,
    # q219 re-anchored r16 on the delta-gains rewrite (dedicated
    # floor-1.00 min-of-3): the submodular bookkeeping form pays an
    # initial corpus groupBy + per-round checkpoint jobs that the
    # old 5x-full-recompute shape didn't, so tiny-SF cost RISES
    # (2.03 -> 3.51) while sf10 falls 84.8 -> 12.0 s (7.1x) — the
    # per-round aggregation is overlap-sized, not corpus-sized.
    "q219_greedy_coverage_picks": 3.510,
    # q220/q221 first anchors from a floor-1.43 session — conservative
    # by construction (the r12 precedent).
    "q220_knn_hits": 3.144,  # re-anchored r16 (dedicated)
    "q221_knn_hubness": 1.397,
    "q222_cusum_changepoints": 1.209,
    "q223_order_cube": 0.339,
    # r15 additions, anchored from a dedicated idle-host min-of-3
    "q224_l_diversity_profile": 0.808,
    "q225_heaps_vocab_growth": 0.962,
    "q226_transition_entropy": 0.650,
    "q227_knn_label_agreement": 1.305,
    "q228_dup_inflation_by_source": 0.795,
    "q229_simpson_lexical_diversity": 0.801,
    "q230_lsh_bucket_histogram": 1.222,
    # the q160 chain + density join; the CC fixpoint rounds dominate
    "q231_cluster_edge_density": 4.937,
    # constant-pair-budget audit: ~160 sampled docs at any sf
    "q232_lsh_recall_curve": 2.915,
    # the mutual-kNN build + two degree joins
    "q233_knn_assortativity": 2.816,  # re-anchored r16 (dedicated)
    "q234_join_skew_profile": 0.795,
    "q235_interarrival_profile": 1.128,
    # r16 additions, anchored from a dedicated idle-host min-of-3
    # (floor 1.00 session, post-restructure for q237: the _ng
    # aggregate folded into the rank window's partition + persisted
    # token relation took it 7.07 -> 3.47 s)
    "q236_decon_bitmap_sizing": 0.690,
    "q237_prefix_candidate_forecast": 3.471,
    "q238_watermark_lateness_curve": 1.018,
    "q239_quality_retention_curve": 0.914,
    # q240 anchored min-of-5 dedicated (one stalled min-of-3 session
    # read 3.06; the clean session and both probe sessions agree at
    # ~2.1)
    "q240_candidate_hamming_histogram": 2.124,
    # r7 fifth-batch anchors (min-of-3 warm, dedicated run): q131's
    # cost is the in-order pair fan-out (O(sum basket²), baskets ~4).
    "q128_event_transitions": 0.735,
    "q129_cohort_retention": 0.465,
    "q130_funnel": 0.378,
    "q131_copurchase_pairs": 1.622,
    "q132_weekly_anomalies": 0.331,
    "q133_rfm_segments": 0.697,
    "q134_corpus_diff": 0.654,
    "q135_length_buckets": 0.578,
    # cost is the brute-force ground-truth leg plus the probe-expanded
    # candidate join — the recall AUDIT is inherently two searches.
    "q136_multiprobe_recall": 1.686,  # re-anchored r16
    "q137_needle_insertion": 0.226,
    # the k-1 argmax jobs of the greedy loop (scalar per round)
    "q138_kcenter_coreset": 0.944,
    # q139 re-anchored r15 to the MEDIAN of the three quiet-host
    # floor-1.00 readings (0.301 r12, 0.336 r13, 0.362 r14) per
    # ADVICE r14, after a root-cause pass (SCALE.md "q139 creep
    # adjudication"): the final stages AQE-coalesce to 1
    # partition, so wall time is fixed scheduler+JIT
    # overhead, not data work — an idle-host aged-session min-of-5
    # read 0.338 (vs 0.586 fresh-JVM, JIT still converging; GC delta
    # 15 ms), i.e. the "creep" is the +/-0.03 s scheduler band, not
    # plan growth. Median anchoring means a continued drift flags
    # sooner than re-anchoring to the latest value would.
    "q139_event_type_anomalies": 0.336,
    "q140_group_weighted_sample": 0.627,
    "q141_deletion_impact": 1.182,
}

# Raw-scan floor (r12 VERDICT item #4): the anchor table above was
# recorded across rounds on a host whose I/O floor has since drifted
# (r12 adjudication: raw sf0.1 lineitem scan 0.557 s vs the ~0.27 s
# the r5-r11 anchors imply — a 2.1x floor shift, independently
# confirmed). A plain secs/anchor ratio therefore flags untouched
# narrow-map queries at 1.5-1.9x on a slow day, and — worse — a real
# 1.3x regression hides inside that band. Each bench run now measures
# the floor itself (min-of-3 warm materialized lineitem scan, zero
# query logic) and flags on the NET-of-floor ratio:
#   net = (secs / anchor) / max(1, floor_now / FLOOR_ANCHOR_S)
# The max(1, ...) keeps a faster-than-anchor host from masking real
# regressions. The raw ratio still prints for continuity.
FLOOR_ANCHOR_S = 0.27


# --- timing core: the one pass loop bench.py and tools/*.py share ---


def use_shm_local_dir() -> None:
    """Bench-scoped (NOT a library default): shuffle/spill on tmpfs to
    shed this host's sporadic multi-second disk stalls (BASELINE.md
    host note). sf0.1 shuffle volumes are far below /dev/shm
    capacity; arbitrary workloads keep the disk default. Call before
    the session starts."""
    if "SPARK_GRAFT_LOCAL_DIR" not in os.environ and os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-local"


def release(spark) -> None:
    """Drop every persisted intermediate: the ones the engine
    track()ed and anything else in the session's cache."""
    release_persisted()
    spark.catalog.clearCache()


def noop_write(df) -> None:
    """Force full materialization — count() would let Catalyst prune
    the measured work away."""
    df.write.format("noop").mode("overwrite").save()


def min_wall(spark, build: Callable, passes: int = 3) -> float:
    """Min wall seconds of ``passes`` consecutive timed passes of
    ``noop_write(build())``. Construction stays inside the window:
    iterative operators run their driver loop eagerly when the query
    function is called.

    Every pass starts from an empty cache, so a pass pays for its own
    persisted intermediates instead of reading the blocks an earlier
    pass cached (q206 at sf0.1 on a 4-vCPU VM: 1.0-1.2 s reusing vs
    2.6-2.8 s paying). The cache is released again on the way out —
    also when the build or the write raises — because catalog queries
    never unpersist, and stale blocks squeeze execution memory for
    whatever runs next (q38: 6.5 s late in a suite vs 1.1 s alone)."""
    best = math.inf
    try:
        for _pass in range(passes):
            release(spark)
            t0 = time.perf_counter()
            noop_write(build())
            best = min(best, time.perf_counter() - t0)
    finally:
        release(spark)
    return best


def _measure_floor(spark, sf_dir: str) -> float:
    """Min-of-3 warm wall time of a fully materialized raw lineitem
    scan — pure I/O + row shipping, no query logic, the yardstick
    every anchor ratio is normalized by."""
    scan = partial(spark.read.parquet, os.path.join(sf_dir, "lineitem.parquet"))
    noop_write(scan())  # warm-up (page cache, codegen)
    return round(min_wall(spark, scan), 3)


def main() -> None:
    use_shm_local_dir()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    qs = all_queries()

    # Warmup pass: run EVERY headline query once unmeasured (JMH
    # style). First execution pays one-time costs that are not the
    # engine — JIT/codegen compilation of the big md5/regex expression
    # trees, cold parquet page-cache reads, Python/Arrow worker spawn.
    # Measured on this host: q31 cold 8.0s vs warm 0.73s with an
    # identical plan — the cold number is disk+JIT, not the query.
    # Per-query fault isolation: one broken query must not take the
    # whole bench down with it (round 3 lost every number to a single
    # AnalysisException raised before the JSON line was printed).
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            noop_write(qs[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — record and keep going
            errors[name] = str(ex).splitlines()[0][:300]

    # Three CONSECUTIVE measured passes per query, keep the MIN:
    # (a) the host shows sporadic multi-second I/O stalls (BASELINE.md
    #     host note) that land on random queries — the min sheds them;
    # (b) whole-stage codegen classes live in a bounded cache, and the
    #     largest generated class (q38's md5/array pipeline) is evicted
    #     by the 13 other queries — interleaved passes would recompile
    #     it every time (measured: 7.9 s first run after the suite,
    #     1.1 s immediately again). Back-to-back passes measure the
    #     compiled steady state, which is what amortizes at scale.
    # Three passes because the host's stall bursts span several
    # seconds and have covered both passes of a short query before.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name in errors:
            continue
        try:
            timings[name] = round(min_wall(spark, partial(qs[name], spark, sf_dir)), 3)
        except Exception as ex:  # noqa: BLE001
            errors[name] = str(ex).splitlines()[0][:300]

    total = round(sum(timings.values()), 3)
    floor_s = _measure_floor(spark, sf_dir)
    floor_ratio = max(1.0, floor_s / FLOOR_ANCHOR_S)
    if floor_ratio > 1.10:
        # r16 floor guard (VERDICT r15 #7): a floor reading taken
        # right after heavy work reads high and then recovers
        # (measured: 0.337 at one session's start vs 0.261 at its
        # end — BASELINE.md r16 note). Before letting a >1.10 floor
        # discount every net ratio in the artifact, re-measure once
        # and keep the LOWER reading.
        floor_s = min(floor_s, _measure_floor(spark, sf_dir))
        floor_ratio = max(1.0, floor_s / FLOOR_ANCHOR_S)
    # Flags were stderr-only through r13, and the driver keeps just a
    # truncated stderr tail — a >1.5x net spike in the driver session
    # (r13's q151 at 2.08x) was invisible in every committed artifact.
    # Persist the flag list (and the full per-query net-ratio map, in
    # the sidecar only) so spikes are adjudicable from BENCH_r{N}.json.
    flags: list[dict] = []
    net_ratios: dict[str, float] = {}
    if sf == ANCHOR_SF:
        print(
            f"  raw-scan floor: {floor_s:.3f}s vs anchor-era "
            f"{FLOOR_ANCHOR_S:.3f}s (floor_ratio {floor_ratio:.2f}x; "
            f"REGRESSION flags are net of this)",
            file=sys.stderr,
        )
        for name, secs in timings.items():
            base = ANCHOR.get(name)
            if base:
                ratio = secs / base
                net = ratio / floor_ratio
                net_ratios[name] = round(net, 2)
                flag = " REGRESSION" if net > 1.5 else (
                    " improved" if ratio < 0.7 else "")
                if net > 1.5:
                    flags.append({
                        "q": name,
                        "net": round(net, 2),
                        "raw": round(ratio, 2),
                        "kind": "regression",
                    })
                print(f"  {name}: {secs:.3f}s vs anchor {base:.3f}s "
                      f"({ratio:.2f}x raw, {net:.2f}x net){flag}",
                      file=sys.stderr)
        print(f"  total: {total:.3f}s vs anchor {sum(ANCHOR.values()):.3f}s",
              file=sys.stderr)
        if floor_ratio > 1.10:
            # r16 floor guard, part 2: in an inflated session every
            # RAW ratio carries the session's inflation, so the
            # committed headline number misleads (the r15 driver
            # artifact's 246.8 s at floor 1.16 vs the comparable
            # 216.3 s quiet-host number). Queue the worst raw
            # casualties for the dedicated adjudication loop below
            # (which re-runs against a freshly re-measured floor), so
            # the artifact carries clean per-query evidence even when
            # the session total can't be trusted.
            flagged = {f["q"] for f in flags}
            recheck = sorted(
                (
                    n for n, secs in timings.items()
                    if ANCHOR.get(n)
                    and secs / ANCHOR[n] > 1.25
                    and n not in flagged
                ),
                key=lambda n: -(timings[n] / ANCHOR[n]),
            )[:8]
            for name in recheck:
                flags.append({
                    "q": name,
                    "net": net_ratios.get(name),
                    "raw": round(timings[name] / ANCHOR[name], 2),
                    "kind": "floor_inflated_recheck",
                })
            print(
                f"  FLOOR WARNING: floor_ratio {floor_ratio:.2f} > "
                f"1.10 — headline total is session-inflated; "
                f"{len(recheck)} worst raw ratios queued for "
                f"dedicated re-measure",
                file=sys.stderr,
            )
    # Adjudicate every flag IN the artifact (VERDICT r14 next-round
    # #3): a suite-pass flag on a sub-second query is usually a
    # scheduler/stall artifact of where the query landed in the
    # session (r14: q44 read 6.2x in the driver session, 1.11x
    # dedicated). Re-run each flagged query min-of-3 in a clean cache
    # state against a RE-measured floor (the floor itself drifts over
    # a long session) and record the dedicated net ratio + verdict
    # alongside the flag — the evidence lives in BENCH_r{N}.json, not
    # in a commit message. Cap at 8 so a systemically slow session
    # cannot double the bench runtime.
    adjudications: list[dict] = []
    if flags:
        floor2 = _measure_floor(spark, sf_dir)
        fr2 = max(1.0, floor2 / FLOOR_ANCHOR_S)
        # cap 12 (was 8): the r16 floor guard can queue extra
        # floor_inflated_recheck entries on top of net>1.5 flags
        for fl in flags[:12]:
            name = fl["q"]
            base = ANCHOR[name]
            try:
                best = min_wall(spark, partial(qs[name], spark, sf_dir))
            except Exception as ex:  # noqa: BLE001
                adjudications.append(
                    {"q": name, "verdict": "error",
                     "err": str(ex).splitlines()[0][:120]})
                continue
            net2 = (best / base) / fr2
            adjudications.append({
                "q": name,
                "dedicated_s": round(best, 3),
                "dedicated_net": round(net2, 2),
                "floor_ratio_at_adjudication": round(fr2, 2),
                "verdict": "noise" if net2 <= 1.25 else "confirmed",
            })
            print(
                f"  adjudication {name}: dedicated {best:.3f}s "
                f"({net2:.2f}x net) -> "
                f"{'noise' if net2 <= 1.25 else 'CONFIRMED'}",
                file=sys.stderr,
            )
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "warmup": "full-pass",
        "passes": "min-of-3",
        "floor_scan_s": floor_s,
        "floor_ratio": round(floor_ratio, 2),
    }
    if sf == ANCHOR_SF:
        payload["flags"] = flags
        payload["adjudications"] = adjudications
        if floor_ratio > 1.10:
            # r16 floor guard: mark the artifact itself so an
            # inflated session's total can't silently become the
            # round's committed number (VERDICT r15 #7)
            payload["floor_warning"] = (
                "floor_ratio > 1.10: headline total is session-"
                "inflated; trust net_ratios/adjudications, and "
                "re-measure on an idle host before re-anchoring"
            )
        # full map goes to the sidecar only (popped from the stdout
        # line below — 143 entries would blow the driver's 2000-char
        # tail window)
        payload["net_ratios"] = net_ratios
    if errors:
        payload["errors"] = errors
        for name, msg in errors.items():
            print(f"  ERROR {name}: {msg}", file=sys.stderr)
    # The driver tail-captures only the LAST 2000 chars of stdout and
    # json-parses the final line (BENCH_r07/r08 recorded "parsed":
    # null because the 79-query line overflowed the window). Keep the
    # final stdout line under that window: compact separators, and
    # if still too long, no per-query detail. The full payload (names,
    # errors) goes to a sidecar file.
    # Per-cpus sidecar naming (r17, VERDICT r16 item 2): the driver's
    # scaling pass re-runs bench.py at a lower core count, and with a
    # single sidecar name that second run OVERWROTE the 32-core
    # per-query map — r16's per-query detail from the driver's own
    # session was unrecoverable. Write bench_full_c{cpus}.json so each
    # core count keeps its own map, plus bench_full.json as the
    # compatibility copy (most-recent-run, as before).
    here = os.path.dirname(os.path.abspath(__file__))
    cpus_label = re.sub(
        r"[^A-Za-z0-9]", "", os.environ.get("SPARK_GRAFT_CPUS") or ""
    ) or "default"
    for fname in (f"bench_full_c{cpus_label}.json", "bench_full.json"):
        with open(os.path.join(here, fname), "w") as fh:
            json.dump(payload, fh, indent=1)
    payload.pop("net_ratios", None)
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        # over the 1,900-char tail window: drop per-query detail rather
        # than ship a line it cannot parse — the sidecar
        # bench_full.json keeps everything
        compact = dict(payload)
        compact["queries"] = {"_truncated": len(timings)}
        compact.pop("errors", None)
        if len(compact.get("flags", [])) > 5:
            compact["flags"] = compact["flags"][:5] + [
                {"q": "_truncated", "kind": "see bench_full.json"}
            ]
        if len(compact.get("adjudications", [])) > 5:
            compact["adjudications"] = compact["adjudications"][:5] + [
                {"q": "_truncated", "verdict": "see bench_full.json"}
            ]
        compact["note"] = "per-query detail in bench_full.json"
        line = json.dumps(compact, separators=(",", ":"))
        assert len(line) <= 1900, f"bench line still {len(line)} chars"
    print(line)
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
