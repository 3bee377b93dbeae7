"""Benchmark runner: executes the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {top-10},
 "n_queries": N, "full_record": "bench_history/r{N}.json", "sf": ...}

The full per-query map goes to bench_history/ (committed); stdout stays
under the driver's 2000-char tail so BENCH_r{N}.json parses (the
111-entry map stopped fitting in round 10).

Each query is forced with a cheap count() action (no driver collect of
result data beyond the count). A warmup pass on the smallest table
amortizes JVM/codegen startup out of the first measured query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_iot_data_pipeline_project_spark import registry
from real_time_iot_data_pipeline_project_spark.session import get_spark

# Headline set: one per operator family, weighted toward shuffle/join
# heavy plans where scale behavior matters.
HEADLINE = [
    "q01_pricing_summary",
    "q02_range_filter",
    "q04_star_join",
    "q05_dedup_exact_keys",
    "q06_latest_per_key",
    "q08_pivot_align",
    "q09_lag_delta",
    "q11_regression",
    "q13_time_features",
    "q20_wind_physics",
    "q22_tumbling_window",
    "q23_ewma",
    "q26_dwh_datetime_dim",
    "q27_iot_pipeline",
    "q28_text_stats",
    "q31_minhash_signatures",
    "q32_minhash_lsh_pairs",
    "q33_simhash",
    "q44_daytime_flag",
    "q48_training_data_pipeline",
    "q52_contamination_screen",
    "q53_dedup_clusters",
    "q54_tfidf_top_terms",
    "q56_winnow_overlap_pairs",
    # the bounded (max_doc_freq) production twin — measured side by side
    # so the unbounded/bounded delta is visible in every bench record
    "q79_winnow_overlap_bounded",
    "q57_cube_rollup",
    "q64_chunk_dedup",
    "q67_sequence_packing",
    # round-5/6 join/window tier: as-of (single-window shape; nearest =
    # both traversals over ONE exchange), bin-bucketed interval join,
    # trailing time-RANGE frame
    "q81_asof_join",
    "q82_range_join",
    "q83_rolling_time_agg",
    "q85_asof_nearest",
    # round-6 monitoring/resampling tier: holding-time integral, OHLC
    # bars (single-shuffle min_by/max_by), spine ∘ as-of forward-fill
    "q86_time_weighted_avg",
    "q88_ohlc_bars",
    "q89_resample_ffill",
    "q90_rolling_zscore",
    # round-6 relational tier: TPC-H Q3/Q5/Q4 shapes (multi-way join
    # planning under AQE, LEFT SEMI short-circuit)
    "q94_shipping_priority",
    "q95_regional_revenue",
    "q96_order_priority_check",
    # round-6 warehouse-history tier: partial-aggregatable CDC
    # compaction, single-exchange SCD2
    "q97_cdc_snapshot",
    "q98_scd2_intervals",
    # round-6 per-domain quantile-band curation
    "q99_quality_band",
    # round-6 analytics/ops tier: cohort matrix, one-pass DQ audit,
    # mergeable-state incremental rollup, ticket-lottery weighted
    # sampling, skew diagnosis, aligned corr, chi-square
    "q100_retention_cohorts",
    "q102_dq_audit",
    "q103_incremental_rollup",
    "q104_weighted_sample",
    "q105_skew_report",
    "q106_aligned_corr",
    "q107_chi2_independence",
    # round-7 tail closure (VERDICT r6 item 5): the monitoring/codec
    # queries not yet in the headline set
    "q87_gap_report",
    "q91_audio_decode_stats",
    "q92_feature_matrix",
    "q93_conversion_funnel",
    "q101_quality_band_approx",
    "q108_unpivot_melt",
    # round-7 additions: interval-join batch twin, history star, null-
    # safe uniqueness audit
    "q109_interval_join",
    "q110_history_star",
    "q111_null_safe_unique",
    "q112_scd2_incremental",
    "q113_dim_snapshot_at",
    "q114_heavy_hitters",
    "q115_grouped_heavy_hitters",
    "q116_unconverted_clicks",
    # round-8 window closure (VERDICT r7 item 6): every official-window
    # query plus the rotated-out round-6/7 tier now has a headline row,
    # so regressions in gated queries stay visible round-over-round
    "q21_solar_physics",
    "q25_corr_matrix",
    "q30_fingerprint_dedup",
    "q36_multimodal_features",
    "q47_session_windows",
    "q50_salted_join",
    "q69_curation_funnel",
    "q75_incremental_dedup",
    "q76_near_dedup_corpus",
    "q77_train_val_test",
    "q80_image_decode_stats",
    "q84_asof_forward",
    # round-8 additions: the batch model-inference boundary (X30) and
    # the feature-hashing embedder (X31)
    "q117_model_scores",
    "q118_hashing_embed",
    # round-9 window closure (rotation #5): the promoted LLM-curation
    # mid tail, so every official-window query keeps a headline row
    "q51_token_frequency",
    "q60_repetition_signals",
    "q61_stratified_sample",
    "q62_shard_stats",
    "q63_pii_redaction",
    "q65_corpus_stats",
    "q66_domain_mixing",
    "q70_epoch_shuffle",
    "q71_source_leakage",
    "q72_unigram_logprob",
    # round-10 window closure (rotation #6): the promoted round-6
    # tail queries not yet in the headline set
    "q73_context_windows",
    "q74_packing_report",
    "q78_langid_confidence",
    # round-9 additions: the hash-gated streaming heavy-hitters fold
    # and the text-profile drift report
    "q120_stream_heavy_fold",
    "q122_drift_report",
    # round-9 late additions: leakage-safe splits, temperature mixture
    "q123_leakage_safe_splits",
    "q124_temperature_mix",
    # round-9 third wave: duplicate-span removal (X39) and
    # edit-distance LSH verification (X40)
    "q127_dup_span_removal",
    "q128_edit_distance_verify",
    "q129_dup_span_incremental",
    "q130_stream_span_scrub",
    # round 10: real merge-table BPE tokenization (X41)
    "q131_bpe_token_frequency",
    "q133_bpe_sequence_packing",
    # round 10: Z-order layout curves (X43)
    "q134_zorder_curve",
    "q135_zorder_curve_3d",
    # round 11: the z-ordered pruned-read row (X43's consumer side)
    # and the capacity-capped mixture waterfill (X44)
    "q136_zorder_pruned_read",
    "q137_mixture_waterfill",
    # round 11: the waterfill allocations applied (X44's consumer tier)
    "q139_waterfill_sample",
    # round 11: release-to-release corpus diff (X46) and the
    # diff-driven incremental annotation refresh (X47)
    "q140_corpus_diff",
    "q141_incremental_annotate",
    # round 12: q131's token-frequency table under the production
    # rank_impl='hash' BPE lookup — measured side by side with q131 so
    # the scan/hash delta is visible in every bench record
    "q142_bpe_hash_ranks",
    # round 12: multi-epoch mixture plan + expansion (X48) and the
    # per-source n-gram novelty report (X49)
    "q143_epoch_plan",
    "q144_epoch_expand",
    "q145_source_novelty",
    # round 12: Moore-Lewis cross-entropy selection (X51)
    "q147_moore_lewis",
    # round 12: the Naive Bayes classifier (X53)
    "q149_naive_bayes_langid",
    # round 12: the streaming NB training fold (X54) and the
    # decontamination-by-excision tier (X5 scrub)
    "q150_stream_nb_train",
    "q151_decontam_scrub",
    "q153_dsir_scores",
    "q156_stream_dsir_pool",
    "q161_dsir_resample",
    "q168_tokenizer_fertility",
    "q169_semantic_decontam",
    # round 15: the Stupid-Backoff bigram LM filter (X75 — reference-
    # bounded LM broadcast onto one corpus pair-explode)
    "q173_ngram_lm_perplexity",
    # round 15: the Gopher top-n-gram repetition report (X79)
    "q177_topgram_report",
    # round 15: the streaming LM reference fold (X81 — two batch_id
    # count appends + one folded-model score pass)
    "q179_stream_lm_fold",
    # vector-tier cut: the twins promoted back into the official window
    # to refill it, so every window query keeps a headline row
    "q10_union_append",
    "q17_value_counts",
    "q19_binning",
    "q24_retention_last_n",
    "q40_global_metrics",
]

# Machine-load variance at sub-second scales (±50% observed) can mask
# real plan regressions: run each query REPEATS times and report the
# minimum — the best run is the least-noise estimate of plan cost.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM startup, parquet footer reads, AND whole-stage codegen +
    # shuffle machinery via a real (tiny) aggregate — so the first measured
    # query doesn't absorb one-time compile cost
    from pyspark.sql import functions as F
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.groupBy("r_name").agg(F.count(F.lit(1)).alias("n")).count()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        best = float("inf")
        for _ in range(max(1, REPEATS)):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # headline split (VERDICT r13 item 8): the official-window total is
    # the round-over-round comparable number — new rows land in the
    # addendum, so a growing registry can't masquerade as a regression
    window = set(registry.export_order()[:50])
    window_sec = round(sum(v for k, v in timings.items() if k in window), 3)
    record = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "window_sec": window_sec,
        "addendum_sec": round(total - window_sec, 3),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": REPEATS,
        "stat": "min_of_repeats",
    }
    persisted_as = _persist(record)
    # The driver keeps only the last 2000 chars of stdout and json-parses
    # them; the full 100+-entry per-query map outgrew that in round 10
    # (BENCH_r10.json parsed: null — VERDICT r10 item 4). Print a COMPACT
    # line — totals + the 10 most expensive queries + a pointer to the
    # committed full record — and keep the full map in bench_history/.
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": record["metric"],
        "value": total,
        "unit": "sec",
        "window_sec": window_sec,
        "addendum_sec": record["addendum_sec"],
        "sf": record["sf"],
        "repeats": REPEATS,
        "stat": "min_of_repeats",
        "n_queries": len(timings),
        "queries": top10,
        "full_record": f"bench_history/{persisted_as}",
    }
    line = json.dumps(compact)
    assert len(line) < 1900, f"compact bench line too long ({len(line)})"
    print(line)


def _infer_round() -> tuple[str, str]:
    """Round tag for the durable bench artifact: $SPARK_GRAFT_ROUND if
    set (digits are zero-padded so r9 and r09 can't diverge), else
    inferred from the driver's artifact sequence.  The driver's
    end-of-round-N sequence is: write CORRECTNESS_r{N} → run bench →
    write BENCH_r{N} (observed in round 9: both landed in one driver
    commit, with bench running in between).  So at bench time:

    - CORRECTNESS_r{maxC} present but BENCH_r{maxC} absent → this IS
      the driver's official run for round maxC → plain ``r{maxC}``.
    - both present → round maxC is closed, this is a mid-round-(maxC+1)
      local run → ``r{maxC+1}_local`` (plain r{N}.json names stay
      driver-reserved, per the BENCH.md protocol note).

    The round-9 inference (always maxC+1) misfiled the driver's own
    round-9 record as r10.json — VERDICT r9 residual nit; fixed here
    and the artifact renamed to r09.json.

    The driver-pattern branch is a heuristic: a LOCAL sf0.1 run landing
    in the same window (e.g. after a crashed driver bench left
    BENCH_r{maxC} missing) would claim the plain name and push the
    driver's later record to ``-2``. Filename guessing can't close
    that, so every record is SELF-DESCRIBING instead: ``_persist``
    embeds ``round_inference`` (env / driver-pattern / local) and
    ``claimed_tag`` in the JSON, and the driver's own BENCH_r{N} tail
    carries the headline totals — a swapped file is detectable and
    re-attributable from its contents. Returns (tag, how)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        tag = f"{int(env):02d}" if env.isdigit() else env
        return tag, "env"
    import glob
    import re
    rounds = []
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            rounds.append(int(m.group(1)))
    if not rounds:
        return "unknown", "no-artifacts"
    max_c = max(rounds)
    if not os.path.exists(os.path.join(here, f"BENCH_r{max_c:02d}.json")):
        return f"{max_c:02d}", "driver-pattern"
    return f"{max_c + 1:02d}_local", "local"


def _persist(record: dict) -> str:
    """Write the FULL per-query map to bench_history/r{N}.json and
    return the filename it landed in. The driver keeps only the last
    2000 chars of stdout, which truncates a 90-entry headline JSON
    (BENCH_r08 lost q01-q31, the r1-baseline overlap) — the committed
    artifact is the durable record that round-over-round comparison
    reads instead.

    Only a run at the OFFICIAL scale (sf0.1, the driver's default)
    claims an unsuffixed-sf name; ad-hoc runs at other SFs get an
    sf-suffixed file so a sf0.001 smoke test can never clobber the
    round's official record.  An existing file is NEVER overwritten
    (lineage safety, VERDICT r9 item 4): collisions fall through to
    ``-2``, ``-3``, ... suffixes."""
    here = os.path.dirname(os.path.abspath(__file__))
    hist = os.path.join(here, "bench_history")
    os.makedirs(hist, exist_ok=True)
    round_tag, how = _infer_round()
    tag = f"r{round_tag}"
    if record["sf"] != 0.1:
        tag += f"_sf{record['sf']}"
    out = os.path.join(hist, f"{tag}.json")
    n = 1
    while os.path.exists(out):
        n += 1
        out = os.path.join(hist, f"{tag}-{n}.json")
    # provenance IN the record (see _infer_round: filenames can be
    # claimed by the wrong writer in a crashed-driver window; contents
    # can't lie about how the tag was chosen).  claimed_tag is the
    # FINAL resolved name — set after the collision loop, so a record
    # that landed in r11-2.json says so itself (ADVICE r10).
    final = os.path.splitext(os.path.basename(out))[0]
    record = dict(record, round_inference=how, claimed_tag=final)
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return os.path.basename(out)


if __name__ == "__main__":
    main()
