"""Coverage ledger (tools/coverage_ledger.py): the never-gated set may
only SHRINK round-over-round, and every hash-checkable backlog query
must be either in the current official window (gating this round) or
scheduled in a planned rotation — no query silently falls off the
road to an official CORRECTNESS row."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import coverage_ledger  # noqa: E402

# The never-gated set as computed from CORRECTNESS_r01..r07 (round-8
# planning baseline; VERDICT r7 "What's missing" item 1 counted the
# same 33). Future rounds may only REMOVE entries (a gated query never
# un-gates — official history is append-only). If this assertion fires
# with a NEW name, a query lost its official row lineage: investigate
# the CORRECTNESS files, don't grow this list. (q68 left it when the
# query was deleted with the vector tier.)
NEVER_GATED_AS_OF_R7 = {
    "q100_retention_cohorts",
    "q101_quality_band_approx",
    "q103_incremental_rollup",
    "q104_weighted_sample",
    "q105_skew_report",
    "q106_aligned_corr",
    "q107_chi2_independence",
    "q108_unpivot_melt",
    "q110_history_star",
    "q111_null_safe_unique",
    "q112_scd2_incremental",
    "q113_dim_snapshot_at",
    "q114_heavy_hitters",
    "q115_grouped_heavy_hitters",
    "q116_unconverted_clicks",
    "q51_token_frequency",
    "q58_describe_approx",
    "q59_distinct_approx",
    "q60_repetition_signals",
    "q61_stratified_sample",
    "q62_shard_stats",
    "q63_pii_redaction",
    "q65_corpus_stats",
    "q66_domain_mixing",
    "q70_epoch_shuffle",
    "q71_source_leakage",
    "q72_unigram_logprob",
    "q73_context_windows",
    "q74_packing_report",
    "q78_langid_confidence",
    "q95_regional_revenue",
    "q99_quality_band",
}


def test_never_gated_only_shrinks():
    """No query that was ever gated may become never-gated (that means
    a CORRECTNESS file was lost or a query was renamed away from its
    lineage). Queries REGISTERED after the r7 pin are legitimately
    never-gated until their scheduled rotation — they're exempt here
    and covered by test_backlog_fully_scheduled."""
    never = coverage_ledger.never_gated()
    ever_r7 = {q for q, rec in coverage_ledger.ledger(max_round=7).items()
               if rec["rounds"]}
    lost = never & ever_r7
    assert lost == set(), (
        f"queries LOST official-row lineage: {sorted(lost)}")
    # and within the r7 universe the never-gated set may only shrink
    grown = (never & (ever_r7 | NEVER_GATED_AS_OF_R7)) \
        - NEVER_GATED_AS_OF_R7
    assert grown == set(), sorted(grown)


def test_backlog_fully_scheduled():
    """Every hash-checkable never-gated query is either inside the
    current 50-query official window (it gates this round) or named in
    a planned rotation."""
    never = coverage_ledger.never_gated() - coverage_ledger.UNGATEABLE
    window = set(coverage_ledger.current_window())
    scheduled = coverage_ledger.scheduled_queries()
    orphans = never - window - scheduled
    assert orphans == set(), (
        f"never-gated queries with no route to an official row: "
        f"{sorted(orphans)}")


def test_planned_rotations_name_real_queries():
    from real_time_iot_data_pipeline_project_spark import registry

    for rnd, (no, qs) in coverage_ledger.PLANNED_ROTATIONS.items():
        assert isinstance(no, int) and no > 0, (rnd, no)
        unknown = [q for q in qs if q not in registry.QUERIES]
        assert unknown == [], (rnd, unknown)
        # a planned promotion that's already in the window is stale
        already = [q for q in qs if q in coverage_ledger.current_window()]
        assert already == [], (rnd, already)


def test_ungateable_set_is_the_approx_tier():
    from real_time_iot_data_pipeline_project_spark import registry

    assert coverage_ledger.UNGATEABLE == set(registry.APPROX_ORACLES)


def test_coverage_doc_is_fresh():
    """COVERAGE.md matches the generator's output FOR THE ROUNDS THE
    DOC COVERS (its 'Rounds covered: r1..rN' line) — so the driver
    dropping a NEW CORRECTNESS_r{N+1}.json after the doc was generated
    doesn't fail the suite, but any rotation/plan/registry change that
    alters the report does (regenerate with --write)."""
    import re

    doc = os.path.join(coverage_ledger.REPO, "COVERAGE.md")
    with open(doc) as f:
        text = f.read()
    m = re.search(r"Rounds covered: r1\.\.r(\d+)\.", text)
    assert m, "COVERAGE.md is missing its 'Rounds covered' horizon line"
    assert text == coverage_ledger.report(max_round=int(m.group(1)))


def test_bench_headline_covers_official_window():
    """Every query in the current official window has a bench headline
    row (VERDICT r7 item 6) — a perf regression in a gated query must
    be visible round-over-round in BENCH_r{N}.json."""
    import bench

    missing = [q for q in coverage_ledger.current_window()
               if q not in bench.HEADLINE]
    assert missing == [], missing
