"""The external correctness gate records rows for only the first 50
entries of __spark_entry__.queries() — pin that every flagship query
stays inside that window and that export order is consistent."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from real_time_iot_data_pipeline_project_spark import registry

GATE_WINDOW = 50

# Queries that MUST have an official gate row: the training-data
# flagship set plus every query that is the sole evidence for an
# operator family.
FLAGSHIP = [
    "q48_training_data_pipeline",
    "q54_tfidf_top_terms",
    "q53_dedup_clusters",
    # round 6: the bounded production shape carries the winnow-overlap
    # row; unbounded q56 is its deferred verification tier
    "q79_winnow_overlap_bounded",
    "q57_cube_rollup",
    "q50_salted_join",
    "q47_session_windows",
    # round-4 promotions: the LLM-curation flagship tier
    # (round 9, rotation #5: q52/q69/q77 rotated out — contamination's
    # family row moves to promoted twin q71 source-leakage, the funnel
    # counts to q48+q102, the split membership to q61+q70; all three
    # carried official rows in CORRECTNESS_r01..r08)
    # (round 11, rotation #7: q67/q76 rotated out — the greedy packing
    # recursion is replayed by promoted q133 on real BPE counts, the
    # near-dup decision layer composes in-window q32+q53; both carried
    # official rows in CORRECTNESS_r04..r10)
    "q64_chunk_dedup",
    "q75_incremental_dedup",
    # round-6 promotions: the join + real-codec tier (VERDICT r5 item 1)
    # (round 8: q84_asof_forward rotated out — the as-of family rows
    # are held by q81 backward + q85 nearest; q84 carried official rows
    # in CORRECTNESS_r06 and _r07)
    # (round 9: q81/q82 rotated out — as-of family row is q85 nearest +
    # q92's asof_join; interval-join family row is q109; both carried
    # official rows in CORRECTNESS_r06..r08)
    # (round 12, rotation #8: q83/q85 rotated out — the RANGE-frame
    # family row is q86's interval-weighted window, the as-of family
    # row is q92's asof_join callable; both carried official rows in
    # CORRECTNESS_r06..r11)
    "q80_image_decode_stats",
    # round-6 second-wave promotions: relational / warehouse-history /
    # audit tier
    # (round 9: q96/q97/q98 rotated out — the semi/anti exists family
    # row is q116's anti complement, winner-per-key is q88's core, the
    # SCD2 build runs inside q110/q112; all three carried official rows
    # in CORRECTNESS_r06..r08)
    "q94_shipping_priority",
    "q102_dq_audit",
    # round-7 promotions: the monitoring tier (VERDICT r6 item 1) + the
    # stream-stream interval join's batch twin (VERDICT r6 item 3)
    # (round 9: q87/q89/q90 rotated out — lead() pairing is q86's core,
    # spine+asof carry-forward is q92's prefix, the RANGE frame is
    # q83's; all three carried official rows in CORRECTNESS_r07/r08)
    # (round 12, rotation #8: q91 rotated out — the real-codec
    # mapInPandas tier's family row is q80's RFC-2083 PNG decode; WAV
    # values stay pinned by tests/test_multimodal.py; rows r07..r11)
    "q86_time_weighted_avg",
    "q88_ohlc_bars",
    "q92_feature_matrix",
    "q93_conversion_funnel",
    "q109_interval_join",
    # round-8 promotions (rotation #4, VERDICT r7 item 1): the
    # warehouse-history increment tier + the round-6 analytics tail
    # (round 11, rotation #7: q103/q105 rotated out — the mergeable-
    # state fold invariant is pinned by q112+q120, the skew diagnosis
    # feeds in-window q50; both carried official rows in
    # CORRECTNESS_r08..r10)
    # (round 12, rotation #8: q108 rotated out — the map-side Expand
    # family's inverse shape is q92's pivot stage; the Expand plan
    # assert stays in tests/test_plans.py; official rows r08..r11)
    "q106_aligned_corr",
    # (round 10: q111/q113/q115/q116 rotated out — each carried
    # official rows in CORRECTNESS_r08/_r09; survivors in SUBSUMPTION)
    # (round 13, rotation #9: q114 rotated out — promoted q120
    # hash-gates the streaming fold of the same Misra-Gries summary,
    # whose gated claim IS fold == batch; official rows r08..r12)
    "q110_history_star",
    "q112_scd2_incremental",
    # round-9 promotions (rotation #5, VERDICT r8 item 1): the
    # LLM-curation mid tail + the round-8 operators pulled forward
    # (round 10: q51/q60/q61/q63/q65/q68/q71/q72 rotated out — each
    # carried official rows in CORRECTNESS_r09; survivors in
    # SUBSUMPTION below)
    # (round 11, rotation #7: q70 rotated out — pure-hash membership
    # family rows move to promoted q123/q124; official rows in
    # CORRECTNESS_r09/r10)
    # (round 12, rotation #8: q66 rotated out — promoted q137's
    # capacity-capped waterfill IS the mixture solver, q124 holds the
    # rate-membership row; official rows r09..r11)
    # (round 13, rotation #9: q117 rotated out — promoted q149's NB
    # classification is the same broadcast-model scoring join at
    # classifier tier; official rows r09..r12)
    # (round 15, rotation #11: q118 rotated out — promoted q169 builds
    # the same X31 hashing embedding on both of its sides (its oracle
    # contains q118's CTEs verbatim); official rows r09..r14)
    "q62_shard_stats",
    # round-10 promotions (rotation #6, VERDICT r9 item 1): the
    # round-6 analytics tail + the round-9 operator tier
    # (round 11, rotation #7: q73/q74/q78/q95/q99/q100/q104/q107
    # rotated out after their first-time official rows landed in
    # CORRECTNESS_r10 — each is subsumed by an in-window survivor, see
    # SUBSUMPTION; the r10 rows stay in the COVERAGE.md ledger)
    # (round 12, rotation #8: q119 rotated out — composition of two
    # in-window parts: q118 builds the same hashing embedding, q121
    # runs the same persistent-index batch search; rows r10/r11)
    # (round 13, rotation #9: q121/q122 rotated out — promoted q148
    # runs the same search_index_batch callable with the filtered
    # production predicate, and q138's recall curve calls the
    # unfiltered path once per nprobe; promoted q146 folds the same
    # psi_from_cells tail at the richer embedding-space tier; official
    # rows r10..r12)
    "q120_stream_heavy_fold",
    # round-11 promotions (rotation #7, VERDICT r10 item 1): the
    # round-9 late tier (leakage-safe splits, temperature mixture,
    # SemDeDup batch + two-level, duplicate-span removal + incremental
    # + streaming fold, edit-distance verify) and the round-10
    # operators (real BPE, streaming SemDeDup, BPE packing, Z-order)
    # (round 13, rotation #9: q125/q127/q128/q131/q135 rotated out —
    # q126's two-level path + q132's streaming fold carry the SemDeDup
    # family, q129/q130 replay the span-excision batch rule exactly,
    # the near-dup verification DP runs only on q32's LSH-bounded
    # pairs, promoted q142 gates the same BPE frequency table under
    # the production hash-rank path, and q134+q136 carry the Z-order
    # curve + pruned-read economics; official rows r11/r12)
    # (round 14, rotation #10: q130/q132 rotated out — both folds'
    # gated claim is fold == batch (official r11..r13); q129 replays
    # the batch excision rule, q126's two-level path carries the
    # SemDeDup family, and the streaming exactly-once fold family rows
    # are q120 + promoted q156)
    # (round 15, rotation #11: q124/q134 rotated out — promoted q167
    # runs the same temperature rates + hash membership with
    # centroid_id as the stratum, and q136's gated pruned read writes
    # the layout with the same zorder_key expression; official rows
    # r11..r14)
    "q123_leakage_safe_splits",
    "q129_dup_span_incremental",
    "q133_bpe_sequence_packing",
    # round-12 promotions (rotation #8, VERDICT r11 item 1): the
    # round-11 operators — the z-ordered pruned READ gate (X43's
    # consumer side), the capacity-capped mixture waterfill and its
    # applied budget-exact sampler (X44), the IVF recall@k evaluation
    # curve (X45), the release-to-release corpus diff (X46), and the
    # diff-driven incremental annotation refresh (X47)
    # (round 13, rotation #9: q137 rotated out — promoted q143's epoch
    # plan IS the same solver generalized, reducing exactly to the
    # waterfill at capacity E·C; q139 gates the applied budget-exact
    # sampler; official row r12)
    # (round 14, rotation #10: q138 rotated out — promoted q152 runs
    # the SAME ann_recall_report callable with the richer filtered
    # reference, and promoted q157 gates the same spine/hits/recall
    # assembly on the codebook axis; official rows r12/r13)
    "q136_zorder_pruned_read",
    "q139_waterfill_sample",
    "q140_corpus_diff",
    "q141_incremental_annotate",
    # round-13 promotions (rotation #9, VERDICT r12 item 1): the
    # round-12 operators — the production hash-rank BPE lookup (X41's
    # 32k-vocab path), the multi-epoch mixture plan + expansion (X48),
    # source novelty (X49), embedding-space release drift (X50),
    # Moore-Lewis cross-entropy selection (X51), filtered vector
    # search (X52), the Naive Bayes train/classify pair and its
    # streaming fold (X53/X54), and decontamination-by-excision (X5's
    # scrub tier)
    # (round 14, rotation #10: q144/q147/q150 rotated out — q143's
    # plan rows ARE the expansion's quotas with q139's hash-lottery
    # membership, promoted q153's DSIR ratio generalizes the
    # Moore-Lewis contrast, and the NB fold's fold==batch claim landed
    # officially in r13 with q149 pinning the batch rule; official
    # rows r13)
    "q142_bpe_hash_ranks",
    "q143_epoch_plan",
    "q145_source_novelty",
    "q149_naive_bayes_langid",
    # (round 15, rotation #11: q151 rotated out — the window-grid
    # excision machinery is q129's gated rule verbatim against the
    # probes' window store; the decontamination family row moves to
    # promoted q169's semantic tier; official rows r13/r14)
    # (round 15, rotation #11: q152-q158 rotated out after their
    # first-time official rows landed in CORRECTNESS_r14 — each is
    # subsumed by a promoted round-14 survivor, see SUBSUMPTION; the
    # r14 rows stay in the COVERAGE.md ledger)
    # round-15 promotions (rotation #11, VERDICT r14 item 1): the
    # round-14 operators — the persisted PQ store's serving + filtered
    # search (X62), refined PQ codebooks (X63), DSIR importance
    # resampling (X64), streaming index ingestion (X65), tombstone
    # deletes (X66), exact re-ranking (X67), the store health report
    # (X68), cluster-balanced sampling (X69), tokenizer fertility
    # (X70), and the semantic decontamination screen (X71); the
    # persisted-store rows (X62, X65-X68) left with the index store
    "q161_dsir_resample",
    "q168_tokenizer_fertility",
    "q169_semantic_decontam",
    # (vector-tier cut: q126/q146/q160/q167 were deleted with the
    # vector tier, together with q37-q39/q68/q154/q155/q158 and the
    # rest of the queries over the embeddings table)
]

# The exact round-6 official window (VERDICT r3 item 8: pin it so a
# future registration reshuffle cannot silently eject a flagship from
# the gate).  Update DELIBERATELY — any diff here is a window-contract
# change that must be called out in the round notes.
# Round-6 change: q05/q34/q41/q44/q46/q49 deferred (subsumption below),
# q80-q85 promoted so the as-of/range/rolling/real-PNG tier carries
# official CORRECTNESS rows (VERDICT r5 item 1).
# Round-6 second wave: q29/q31/q35/q37/q45 deferred (each subsumed by
# an in-window survivor, see SUBSUMPTION), q94/q96/q97/q98/q102
# promoted so the relational / warehouse-history / audit tier carries
# official CORRECTNESS rows.
# Round-7 change: q06/q07/q08/q09/q13/q14/q18/q22/q40 deferred (each
# subsumed by an in-window survivor, see SUBSUMPTION), the monitoring
# tier q86-q93 plus the interval-join batch twin q109 promoted so they
# carry official CORRECTNESS rows (VERDICT r6 items 1 and 3).
# Round-8 change (rotation #4, VERDICT r7 item 1): q01/q11/q20/q21/q25/
# q26/q28/q33/q36/q39/q84 deferred (each subsumed by an in-window
# survivor, see SUBSUMPTION; all eleven carried official rows in
# earlier rounds — see tools/coverage_ledger.py), the warehouse-history
# increment tier q110-q116 plus the round-6 analytics tail q103/q105/
# q106/q108 promoted so they carry first-time official CORRECTNESS
# rows.
# Round-9 change (rotation #5, VERDICT r8 item 1): q04/q30/q52/q69/
# q77/q81/q82/q87/q89/q90/q96/q97/q98 deferred (each subsumed by an
# in-window survivor, see SUBSUMPTION; all thirteen carried official
# rows in earlier rounds — see tools/coverage_ledger.py), the
# LLM-curation mid tail q51/q60-q63/q65/q66/q68/q70-q72 plus the
# round-8 operators q117/q118 (pulled forward from rotation #6)
# promoted so they carry first-time official CORRECTNESS rows.
# Round-10 change (rotation #6, VERDICT r9 item 1): q51/q60/q61/q63/
# q65/q68/q71/q72/q111/q113/q115/q116 deferred (each subsumed by an
# in-window survivor, see SUBSUMPTION; all twelve carried official rows
# in CORRECTNESS_r09 — see tools/coverage_ledger.py), the round-6
# analytics tail q73/q74/q78/q95/q99/q100/q104/q107 plus the round-9
# operator tier q119-q122 promoted so they carry first-time official
# CORRECTNESS rows.
# Round-11 change (rotation #7, VERDICT r10 item 1): q67/q70/q73/q74/
# q76/q78/q95/q99/q100/q103/q104/q105/q107 deferred (each subsumed by
# an in-window survivor, see SUBSUMPTION; all thirteen carried official
# rows in CORRECTNESS_r10 — the full r10 window was 50/50 green), the
# round-9 late tier q123-q130 plus the round-10 operators q131-q135
# promoted so they carry first-time official CORRECTNESS rows.  This
# burns the never-gated hash-checkable backlog to zero.
# Round-12 change (rotation #8, VERDICT r11 item 1): q66/q83/q85/q91/
# q108/q119 deferred (each subsumed by an in-window survivor, see
# SUBSUMPTION; all six carried official rows through CORRECTNESS_r11 —
# the full r11 window was 50/50 green), the round-11 operators
# q136-q141 promoted so they carry first-time official CORRECTNESS
# rows.  The never-gated hash-checkable backlog is again zero.
# Round-13 change (rotation #9, VERDICT r12 item 1): q114/q117/q121/
# q122/q125/q127/q128/q131/q135/q137 deferred (each subsumed by an
# in-window survivor, see SUBSUMPTION; all ten carried official rows
# through CORRECTNESS_r12 — the full r12 window was 50/50 green), the
# round-12 operators q142-q151 promoted so they carry first-time
# official CORRECTNESS rows.  The never-gated hash-checkable backlog
# is again zero.
# Round-14 change (rotation #10, VERDICT r13 item 1): q38/q130/q132/
# q138/q144/q147/q150 deferred (each subsumed by an in-window
# survivor, see SUBSUMPTION; all seven carried official rows through
# CORRECTNESS_r13 — the full r13 window was 50/50 green), the
# round-13 operators q152-q158 promoted so they carry first-time
# official CORRECTNESS rows.  The never-gated hash-checkable backlog
# is again zero — every registry query outside the approx sketch tier
# has now carried an official green row in some round.
# Round-15 change (rotation #11, VERDICT r14 item 1): q118/q124/q134/
# q151/q152/q153/q154/q155/q156/q157/q158 deferred (each subsumed by
# an in-window survivor, see SUBSUMPTION; all eleven carried official
# rows through CORRECTNESS_r14 — the full r14 window was 50/50
# green), the round-14 operators q159-q169 promoted so they carry
# first-time official CORRECTNESS rows.  The never-gated
# hash-checkable backlog is again zero — every registry query outside
# the approx sketch tier has now carried an official green row in
# some round.
# Vector-index cut (ROADMAP item 5): the persisted ANN index store
# and everything that reached it were deleted, taking seven window
# rows with them (q148/q159/q162-q166).  The seven deferred twins
# whose only survivors were among them (q37/q38/q39/q68/q154/q155/
# q158) were promoted back into the window to refill it to 50.
# Vector-tier cut (ROADMAP item 5): the rest of the queries over the
# embeddings table were deleted, taking eleven window rows with them
# (q37/q38/q39/q68/q126/q146/q154/q155/q158/q160/q167).  The window
# was refilled with the deferred twins whose only survivor was deleted
# (q104/q124 — q167; q122 — q146), the POST_WINDOW survivors
# q173/q177/q179, four of the original twins with no SUBSUMPTION entry
# (q10/q17/q19/q24; q42 stays deferred) and the dashboard's
# global-metrics panel q40.
EXPECTED_WINDOW = [
    "q10_union_append",
    "q17_value_counts",
    "q19_binning",
    "q23_ewma",
    "q24_retention_last_n",
    "q27_iot_pipeline",
    "q32_minhash_lsh_pairs",
    "q40_global_metrics",
    "q57_cube_rollup",
    "q79_winnow_overlap_bounded",
    "q47_session_windows",
    "q50_salted_join",
    "q53_dedup_clusters",
    "q54_tfidf_top_terms",
    "q48_training_data_pipeline",
    "q62_shard_stats",
    "q64_chunk_dedup",
    "q75_incremental_dedup",
    "q80_image_decode_stats",
    "q86_time_weighted_avg",
    "q88_ohlc_bars",
    "q92_feature_matrix",
    "q93_conversion_funnel",
    "q94_shipping_priority",
    "q102_dq_audit",
    "q104_weighted_sample",
    "q106_aligned_corr",
    "q109_interval_join",
    "q110_history_star",
    "q112_scd2_incremental",
    "q120_stream_heavy_fold",
    "q122_drift_report",
    "q123_leakage_safe_splits",
    "q124_temperature_mix",
    "q129_dup_span_incremental",
    "q133_bpe_sequence_packing",
    "q136_zorder_pruned_read",
    "q139_waterfill_sample",
    "q140_corpus_diff",
    "q141_incremental_annotate",
    "q142_bpe_hash_ranks",
    "q143_epoch_plan",
    "q145_source_novelty",
    "q149_naive_bayes_langid",
    "q161_dsir_resample",
    "q169_semantic_decontam",
    "q168_tokenizer_fertility",
    "q173_ngram_lm_perplexity",
    "q177_topgram_report",
    "q179_stream_lm_fold",
]

# Round-4/6 deferrals: each subsumed query's operator stays asserted by
# an in-window survivor (and every deferred oracle still runs in the
# local gate, tests/test_oracle_parity.py).  deferred -> survivors.
SUBSUMPTION = {
    "q02_range_filter": ["q27_iot_pipeline", "q48_training_data_pipeline"],
    # (r9 re-point: former survivor q04 deferred) the dim-join → rollup
    # star shape is q110's history star; the broadcast plan assertion
    # stays in tests/test_plans.py
    "q03_dim_join": ["q110_history_star"],
    # bin/when-chain + grouped count shape (q98's value banding is the
    # same CASE-bucket expr; r8 re-point: former survivor q01 deferred,
    # the grouped count/sum half is q94's rollup)
    # (r9 re-point: former survivor q98 deferred — q110 builds the same
    # CASE-bucket state banding as its dimension input)
    "q12_histogram": ["q110_history_star", "q94_shipping_priority"],
    # (r8 re-point: former survivor q11 deferred) global scalar-agg
    # pass = q106's closed-form corr aggregates + q102's conditional
    # aggs
    "q15_describe": ["q106_aligned_corr", "q102_dq_audit"],
    "q16_distinct_stats": ["q54_tfidf_top_terms"],
    # (r7 re-point: former survivor q13 deferred; r9: q89 deferred) the
    # sequence+explode spine is the grid_spine driving q92's matrix
    "q43_time_spine": ["q92_feature_matrix"],
    # --- round 6 ---
    # D1 key dedup: dropDuplicates runs inside q27's clean chain; the
    # exact-dedup family row is q64's chunk-level md5 hash-groupBy
    # (r9 re-point: former survivor q30 deferred)
    "q05_dedup_exact_keys": ["q27_iot_pipeline", "q64_chunk_dedup"],
    # verification-tier quadratic Jaccard; q32 MinHash-LSH estimates the
    # same pair set and is the production shape for the operator
    "q34_ngram_jaccard_pairs": ["q32_minhash_lsh_pairs"],
    # P6/W4 interval retention: trailing event-time window arithmetic
    # is q86's event-time RANGE-frame core (count-based twin q24 is
    # in the window; r12 re-point: former survivor q83 deferred,
    # itself subsumed by q86)
    "q41_retention_interval": ["q86_time_weighted_avg"],
    # F8 day/night labels inside q27's clean chain; F26 NOAA astro chain
    # stays pinned by tests/test_astro.py and the local oracle gate
    # (r7 re-point: former co-survivor q13 deferred)
    "q44_daytime_flag": ["q27_iot_pipeline"],
    # winnow fingerprint extraction is the literal prefix stage of the
    # in-window winnow-overlap query (q79 since the round-6 swap)
    "q46_winnow_fingerprints": ["q79_winnow_overlap_bounded"],
    # T4 hopping window = two-offset UNION of a tumbling window; the
    # time-bucket agg survivor is q88's OHLC bars (r7 re-point: former
    # survivor q22 deferred), the streaming-window family row is q47
    "q49_hopping_window": ["q88_ohlc_bars", "q47_session_windows"],
    # unbounded winnow overlap = verification tier of the bounded
    # production shape (identical semantics minus the max_doc_freq
    # stop-fingerprint filter; x10-measured 14× vs 3.1×)
    "q56_winnow_overlap_pairs": ["q79_winnow_overlap_bounded"],
    # --- round-6 second wave ---
    # signature extraction is stage one of the LSH pairs pipeline
    "q31_minhash_signatures": ["q32_minhash_lsh_pairs"],
    # binary stats surface = prefix of feature extraction; the real-
    # decode tier goes further (r8 re-point: former survivor q36
    # deferred; r12 re-point: q91 deferred — the mapInPandas real-
    # decode family row is q80's PNG decode)
    "q35_binary_stats": ["q80_image_decode_stats"],
    # quality scoring runs verbatim as q48's scan-stage gate
    "q45_quality_score": ["q48_training_data_pipeline"],
    # lang-ID runs verbatim inside q48 (detected_lang gate)
    "q29_lang_id": ["q48_training_data_pipeline"],
    # --- round 7 (VERDICT r6 item 1: open slots for q86-q93 + q109) ---
    # W1 latest-per-key: max_by(struct) winner-per-key is q88's OHLC
    # open/close core
    "q06_latest_per_key": ["q88_ohlc_bars"],
    # L1/L2 global sort + top-k: q94's TakeOrderedAndProject; W2 window
    # ranking: q54's per-doc row_number over tfidf
    "q07_topk": ["q94_shipping_priority", "q54_tfidf_top_terms"],
    # J2 pivot-align is the pivot stage of the aligned feature matrix
    "q08_pivot_align": ["q92_feature_matrix"],
    # W6 lag-delta: lead/lag window arithmetic is q86's holding-interval
    # pairing (r9 re-point: former survivor q87 deferred)
    "q09_lag_delta": ["q86_time_weighted_avg"],
    # F4 hour + F8 day/night labels run in q27's clean chain (r8
    # re-point: former co-survivor q26 deferred; the F5 day-name
    # derivation stays pinned by q26's local oracle + golden parity)
    "q13_time_features": ["q27_iot_pipeline"],
    # A5 capacity factor (r8 re-point: former survivors q21/q01
    # deferred): the grouped ratio-of-aggregates shape is q86's
    # sum(weighted)/sum(weights); grouped multi-agg shape is q94; the
    # F22 utilization arithmetic stays pinned by test_physics + q21's
    # local oracle
    "q14_capacity_factor": ["q86_time_weighted_avg",
                            "q94_shipping_priority"],
    # P7/P9 null predicate + fill: q27 runs drop/fill in its clean
    # chain; q102 counts null violations with the same conditional aggs
    "q18_null_handling": ["q27_iot_pipeline", "q102_dq_audit"],
    # T4 tumbling window: q88's time-bucket agg is the richer twin; q47
    # holds the streaming windowed-agg family row
    "q22_tumbling_window": ["q88_ohlc_bars", "q47_session_windows"],
    # --- round 8 (rotation #4, VERDICT r7 item 1: open slots for
    # q103/q105/q106/q108 + q110-q116) ---
    # A1 grouped multi-agg over lineitem: q94's grouped decimal-exact
    # revenue rollup is the richer TPC-H twin
    "q01_pricing_summary": ["q94_shipping_priority"],
    # A11 closed-form regression: corr/cov scalar-agg core = q106's
    # aligned Pearson pass; conditional scalar aggs = q102
    "q11_regression": ["q106_aligned_corr", "q102_dq_audit"],
    # F9-F18 physics chains: VALUES pinned by golden parity vs the
    # reference outputs + property tests; the scan-stage Column-chain
    # SHAPE is q27's clean chain
    "q20_wind_physics": ["q27_iot_pipeline"],
    "q21_solar_physics": ["q27_iot_pipeline"],
    # A10 pairwise corr: q106 runs the same pivot-align ∘ F.corr
    # arithmetic on the (richer, as-of aligned) grid
    "q25_corr_matrix": ["q106_aligned_corr"],
    # S14/J4 dim-build → fact-attribute → rollup star shape = q110's
    # history star; datetime field derivations stay in the local gate
    "q26_dwh_datetime_dim": ["q110_history_star"],
    # text-stat Column exprs: token/explode prefix of q54; quality
    # consumers run inside q48's gate
    "q28_text_stats": ["q54_tfidf_top_terms",
                       "q48_training_data_pipeline"],
    # simhash block-LSH: near-dup family row stays with q32's
    # MinHash-LSH
    "q33_simhash": ["q32_minhash_lsh_pairs"],
    # multimodal feature surface: the real-decode tier goes further
    # (r12 re-point: q91 deferred — q80 carries the codec family row)
    "q36_multimodal_features": ["q80_image_decode_stats"],
    # forward as-of = direction mirror of the asof_join callable that
    # q92's feature matrix runs (r9 re-point: former survivor q81
    # deferred; r12 re-point: q85 deferred — q92 carries the family)
    "q84_asof_forward": ["q92_feature_matrix"],
    # --- round 9 (rotation #5, VERDICT r8 item 1: open slots for
    # q51/q60-q72 tier + q117/q118) ---
    # J4 broadcast star: dim-build → fact-join → rollup is q110's
    # history star; broadcast-dim plan pinned by tests/test_plans.py
    "q04_star_join": ["q110_history_star"],
    # exact-dedup md5 hash-groupBy: identical core of q64 (chunk
    # granularity) and q75 (incremental anti-join)
    "q30_fingerprint_dedup": ["q64_chunk_dedup", "q75_incremental_dedup"],
    # contamination: the verbatim 8-token chunk-hash overlap core is
    # q64's chunk-dedup grid (r10 re-point: former survivor q71
    # deferred, itself subsumed by q64); the probe-dim broadcast +
    # winnow guarantee stay pinned by tests/test_contamination.py
    "q52_contamination_screen": ["q64_chunk_dedup"],
    # funnel stage counts = conditional aggregates over q48's verbatim
    # gate chain; the conditional-agg audit shape is q102's
    "q69_curation_funnel": ["q48_training_data_pipeline", "q102_dq_audit"],
    # pure-hash split membership: promoted q123's cluster-keyed hash
    # lottery (former co-survivor q167 deleted with the vector tier)
    "q77_train_val_test": ["q123_leakage_safe_splits"],
    # backward as-of: q92's feature matrix runs the same asof_join
    # callable keyed by (user, signal) (r12 re-point: former survivor
    # q85 deferred — q92 carries the as-of family row)
    "q81_asof_join": ["q92_feature_matrix"],
    # interval-containment join family row is q109's inequality-bounded
    # equi-join; the bucketization plan stays in tests/test_plans.py
    "q82_range_join": ["q109_interval_join"],
    # lead() pairing with (ts, event_id) tie-break is q86's
    # holding-interval core; the gap filter is display-grade
    "q87_gap_report": ["q86_time_weighted_avg"],
    # grid_spine + as-of carry-forward is the literal prefix of q92's
    # aligned feature matrix (spine → asof → pivot)
    "q89_resample_ffill": ["q92_feature_matrix"],
    # same event-time RANGE-frame window pass as q86's interval core
    # (r12 re-point: former survivor q83 deferred, subsumed by q86)
    "q90_rolling_zscore": ["q86_time_weighted_avg"],
    # exists-per-key semi/anti family: q116 is the LEFT ANTI complement
    # with the same non-equi predicate riding the join; grouped rollup
    # is q94's; left_semi plan pinned by tests/test_plans.py
    # (r10 re-point: former survivor q116 deferred — the non-equi
    # predicate riding an equi-join is q109's interval-join core)
    "q96_order_priority_check": ["q109_interval_join",
                                 "q94_shipping_priority"],
    # max_by(struct) winner-per-key is q88's OHLC open/close core; the
    # history-tier snapshot consumer is q113's as-of dim lookup
    # (r10 re-point: former survivor q113 deferred — q112's
    # incremental oracle replays the same SCD2 interval read)
    "q97_cdc_snapshot": ["q88_ohlc_bars", "q112_scd2_incremental"],
    # SCD2 build: q110 builds the same dimension via
    # warehouse.history.scd2_from_history; q112's oracle IS the rebuild
    "q98_scd2_intervals": ["q110_history_star", "q112_scd2_incremental"],
    # --- round 10 (rotation #6, VERDICT r9 item 1: open slots for the
    # q73-q107 analytics tail + the round-9 operator tier q119-q122) ---
    # explode→grouped-count token aggregation is the literal prefix of
    # q54's TF-IDF (term-count + document-frequency stages)
    "q51_token_frequency": ["q54_tfidf_top_terms"],
    # repetition n-gram explode/agg shape is q54's prefix; scan-stage
    # text-metric consumers run inside q48's gate; values pinned by
    # tests/test_textfns.py
    "q60_repetition_signals": ["q54_tfidf_top_terms",
                               "q48_training_data_pipeline"],
    # pure-hash stratified membership: promoted q123 carries the
    # hash-lottery family (former co-survivor q167 deleted with the
    # vector tier); assign_split pinned by tests/test_sampling
    "q61_stratified_sample": ["q123_leakage_safe_splits"],
    # scan-stage regexp redaction chain runs with q48's gate shape; the
    # PII patterns stay value-pinned by tests/test_textfns.py
    "q63_pii_redaction": ["q48_training_data_pipeline"],
    # corpus-level stat rollup: q62's per-shard stats is the same
    # multi-metric agg over the same columns, one groupBy deeper
    "q65_corpus_stats": ["q62_shard_stats"],
    # source-leakage matrix: the verbatim 8-token chunk-hash overlap
    # core is q64's chunk-dedup grid (same md5 key); contamination
    # guarantee pinned by tests/test_contamination.py
    "q71_source_leakage": ["q64_chunk_dedup"],
    # unigram log-prob: token explode → frequency join is q54's
    # document-frequency core
    "q72_unigram_logprob": ["q54_tfidf_top_terms"],
    # null-safe distinct audit: conditional-agg DQ family row is q102
    "q111_null_safe_unique": ["q102_dq_audit"],
    # as-of dim snapshot read: q110 builds the star it reads; q112's
    # incremental oracle replays the same SCD2 intervals
    "q113_dim_snapshot_at": ["q110_history_star",
                             "q112_scd2_incremental"],
    # grouped Misra-Gries (r13 re-point: former survivor q114
    # deferred, itself subsumed by the fold): q120 hash-gates the
    # streaming fold of the same bounded-state summary
    "q115_grouped_heavy_hitters": ["q120_stream_heavy_fold"],
    # LEFT ANTI exists-complement: non-equi predicate riding an
    # equi-join is q109's core; grouped rollup is q94's; anti/semi
    # plan shape stays in tests/test_plans.py
    "q116_unconverted_clicks": ["q109_interval_join",
                                "q94_shipping_priority"],
    # --- round 11 (rotation #7, VERDICT r10 item 1: open slots for
    # q123-q135 — the never-gated backlog burn-down) ---
    # greedy bin-packing recursion: promoted q133 replays the same
    # packing rule (its oracle chains q67's recursive CTE) on real BPE
    # token counts — the richer production twin
    "q67_sequence_packing": ["q133_bpe_sequence_packing"],
    # pure-hash pmod membership: promoted q123's cluster-keyed hash
    # lottery (former co-survivor q167 deleted with the vector tier)
    "q70_epoch_shuffle": ["q123_leakage_safe_splits"],
    # stride-window transform+explode: scan-stage sequence slicing is
    # q54's token-explode prefix; the sample-construction (packing
    # module) family row is promoted q133
    "q73_context_windows": ["q54_tfidf_top_terms",
                            "q133_bpe_sequence_packing"],
    # packing-efficiency rollup: packing family row is promoted q133;
    # per-group multi-metric rollup shape is q62's shard stats
    "q74_packing_report": ["q133_bpe_sequence_packing",
                           "q62_shard_stats"],
    # near-dup decision layer composes the two in-window stages it
    # feeds from (LSH pairs + star-CC clusters/survivor rule)
    "q76_near_dedup_corpus": ["q32_minhash_lsh_pairs",
                              "q53_dedup_clusters"],
    # lang-ID margin: the langid scorer runs verbatim inside q48's
    # detected_lang gate; margin arithmetic pinned by test_textfns
    "q78_langid_confidence": ["q48_training_data_pipeline"],
    # TPC-H Q5 star: decimal-exact revenue rollup is q94's; the
    # multi-dim broadcast-star join shape is q110's history star
    "q95_regional_revenue": ["q94_shipping_priority",
                             "q110_history_star"],
    # per-source quantile banding: quality scoring runs verbatim in
    # q48's gate; the per-group rank-window pass is q54's per-doc
    # row_number
    "q99_quality_band": ["q48_training_data_pipeline",
                         "q54_tfidf_top_terms"],
    # cohort triangle: first-event-per-user + per-user join-back is
    # q93's per-user event shuffle; countDistinct rollup is q54's
    # document-frequency core
    "q100_retention_cohorts": ["q93_conversion_funnel",
                               "q54_tfidf_top_terms"],
    # mergeable-state fold: q112's incremental oracle pins the same
    # rebuild==fold invariant; q120 hash-gates the streaming fold of
    # bounded mergeable state
    "q103_incremental_rollup": ["q112_scd2_incremental",
                                "q120_stream_heavy_fold"],
    # skew diagnosis feeds q50's salted join (the in-window skew
    # family row); groupBy-count + TakeOrderedAndProject is q94's
    "q105_skew_report": ["q50_salted_join", "q94_shipping_priority"],
    # chi² independence: closed-form statistical-association agg
    # family is q106's aligned Pearson pass; broadcast-margin
    # conditional aggs are q102's audit shape
    "q107_chi2_independence": ["q106_aligned_corr", "q102_dq_audit"],
    # --- round 12 (rotation #8, VERDICT r11 item 1: open slots for
    # the round-11 operators q136-q141) ---
    # nearest as-of composes the same asof_join callable q92's feature
    # matrix runs per (user, signal); the nearest tie-break stays
    # pinned by tests/test_asof.py + the local oracle gate
    "q85_asof_nearest": ["q92_feature_matrix"],
    # trailing RANGE-frame agg: q86's time-weighted average runs the
    # same event-time RANGE window (richer: interval-weighted)
    "q83_rolling_time_agg": ["q86_time_weighted_avg"],
    # mixture weights (r13 re-point: former survivor q137 deferred,
    # itself subsumed by the epoch generalization; r15 re-point:
    # former co-survivor q124 deferred): promoted q143's epoch plan IS
    # the capacity-capped mixture solver (reduces exactly to the
    # waterfill at capacity E·C; former co-survivor q167 deleted with
    # the vector tier)
    "q66_domain_mixing": ["q143_epoch_plan"],
    # unpivot/melt map-side Expand: the inverse shape of q92's pivot
    # stage; the no-shuffle Expand plan stays in tests/test_plans.py
    "q108_unpivot_melt": ["q92_feature_matrix"],
    # WAV real decode: same mapInPandas real-codec tier as q80's PNG
    # decode; WAV values stay pinned by tests/test_multimodal.py
    "q91_audio_decode_stats": ["q80_image_decode_stats"],
    # --- round 13 (rotation #9, VERDICT r12 item 1: open slots for
    # the round-12 operators q142-q151) ---
    # batch Misra-Gries summary: q120's streaming fold hash-gates
    # fold == batch of the same bounded-state summary — the batch rule
    # is pinned THROUGH the fold's own gated claim
    "q114_heavy_hitters": ["q120_stream_heavy_fold"],
    # model-inference boundary: promoted q149's NB classification is
    # the same broadcast-model scoring join at classifier tier
    # (richer: decimal-exact log-sum argmax over L labels)
    "q117_model_scores": ["q149_naive_bayes_langid"],
    # batch duplicate-span removal: q129 (incremental vs a span
    # store) replays the batch excision rule exactly (r14 re-point:
    # former co-survivor q130, the streaming fold, deferred after its
    # fold==batch rows landed r11..r13)
    "q127_dup_span_removal": ["q129_dup_span_incremental"],
    # edit-distance LSH verify: the verification tier of the near-dup
    # family — the DP runs only on q32's LSH-bounded candidate pairs
    # (the q34/q56 verification-tier precedent)
    "q128_edit_distance_verify": ["q32_minhash_lsh_pairs"],
    # BPE token frequency, merge-loop rank path: promoted q142 gates
    # the SAME frequency table under the production rank_impl='hash'
    # O(1) lookup; the loop tier stays pinned by tests/test_bpe.py
    "q131_bpe_token_frequency": ["q142_bpe_hash_ranks"],
    # 3-dim Z-order interleave: dimension-count variant of the 2-dim
    # curve q136's gated pruned-read write runs (same bit-interleave
    # arithmetic; r15 re-point: former co-survivor q134 deferred)
    "q135_zorder_curve_3d": ["q136_zorder_pruned_read"],
    # mixture waterfill solver: promoted q143's epoch plan reduces
    # EXACTLY to the waterfill at capacity E·C (its docstring
    # contract); q139 gates the applied budget-exact sampler
    "q137_mixture_waterfill": ["q143_epoch_plan",
                               "q139_waterfill_sample"],
    # --- round 14 (rotation #10, VERDICT r13 item 1: open slots for
    # the round-13 operators q152-q158) ---
    # Moore-Lewis selection: promoted q161's DSIR resample composes
    # the importance-weighting generalization of the same seed-vs-pool
    # contrast (Xie et al. 2023 §2: Moore-Lewis is the per-token
    # special case; r15 re-point: former survivor q153 deferred —
    # q161's oracle wraps its SQL); the release --ml-seed stage stays
    # e2e-pinned to the operator's rule
    "q147_moore_lewis": ["q161_dsir_resample"],
    # streaming span-scrub fold: same fold == batch claim (official
    # r11..r13); q129's incremental tier replays the batch excision
    # rule exactly
    "q130_stream_span_scrub": ["q129_dup_span_incremental",
                               "q120_stream_heavy_fold"],
    # multi-epoch plan expansion: composition of two in-window gated
    # rules — q143's plan rows ARE the per-(source, epoch) quotas and
    # the membership is q139's integer-ticket hash lottery
    "q144_epoch_expand": ["q143_epoch_plan", "q139_waterfill_sample"],
    # streaming NB corpus fold: fold == batch of integer bucket counts
    # (official r13); q149 pins the batch model + argmax rule
    "q150_stream_nb_train": ["q149_naive_bayes_langid"],
    # --- round 15 (rotation #11, VERDICT r14 item 1: open slots for
    # the round-14 operators q159-q169) ---
    # hashing embedder: promoted q169 builds the SAME X31 embedding on
    # BOTH of its sides — its oracle contains q118's CTEs verbatim,
    # so the bit-identical determinism claim stays hash-gated
    "q118_hashing_embed": ["q169_semantic_decontam"],
    # 2-dim Z-order interleave: q136's gated pruned read WRITES the
    # layout with the same zorder_key expression — the curve
    # arithmetic rides inside the gated consumer
    "q134_zorder_curve": ["q136_zorder_pruned_read"],
    # decontamination by excision: the window-grid excision machinery
    # is q129's gated rule verbatim against the probes' window store;
    # the decontamination family row moves to promoted q169's
    # semantic tier (probe-store construction stays pinned by
    # tests/test_contamination.py and the release e2e)
    "q151_decontam_scrub": ["q129_dup_span_incremental",
                            "q169_semantic_decontam"],
    # DSIR importance weights: promoted q161's resample IS q153's
    # score rule composed with the ticket lottery (its oracle wraps
    # q153's SQL as a CTE)
    "q153_dsir_scores": ["q161_dsir_resample"],
    # streaming DSIR pool fold: fold == batch landed officially (r14);
    # promoted q161 keeps the batch DSIR rule in-window
    "q156_stream_dsir_pool": ["q161_dsir_resample"],
}


def test_flagships_inside_gate_window():
    order = list(entrymod.queries())
    window = set(order[:GATE_WINDOW])
    assert [q for q in FLAGSHIP if q not in window] == []


def test_only_deferred_twins_outside_window():
    order = list(entrymod.queries())
    tail = registry.DEFERRED + registry.POST_WINDOW + sorted(registry.APPROX_ORACLES)
    assert order[GATE_WINDOW:] == [n for n in tail if n in registry.QUERIES]


def test_export_covers_every_registered_query():
    order = list(entrymod.queries())
    assert sorted(order) == sorted(registry.QUERIES)
    assert len(order) == len(set(order))
    # oracles follow the same order, restricted to queries that have one
    assert list(entrymod.oracle_sql()) == [
        n for n in order if n in registry.ORACLES
    ]


def test_deferred_names_exist():
    assert [n for n in registry.DEFERRED if n not in registry.QUERIES] == []


def test_window_contract_pinned():
    """The first 50 exported queries are EXACTLY the pinned round-7
    window, in order."""
    order = list(entrymod.queries())
    assert order[:GATE_WINDOW] == EXPECTED_WINDOW


def test_subsumption_mapping_consistent():
    """Every round-4 deferred twin is actually deferred, and every
    survivor that carries its operator evidence is inside the window."""
    window = set(EXPECTED_WINDOW)
    for deferred, survivors in SUBSUMPTION.items():
        assert deferred in registry.DEFERRED
        assert deferred not in window
        for s in survivors:
            assert s in window, (deferred, s)
