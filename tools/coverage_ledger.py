"""Official-row coverage ledger: which of the registry's queries have
EVER had an official CORRECTNESS_r{N}.json row, and when.

The external gate records rows for only the first 50 exported queries
per round, so with 100+ registered queries the metric that matters for
rotation planning is per-query history, not any single round's 50/50.
This tool unions every CORRECTNESS_r*.json in the repo root and emits:

- per-query first/last official round + the full round list,
- the never-gated set (queries with no green official row in ANY
  round), split into hash-checkable vs structurally ungateable (the
  approx/bounded sketch tier has no hashable oracle, only the local
  bounded comparator — it can never produce a hash-green row),
- the planned rotations that retire the hash-checkable backlog.

Run ``python tools/coverage_ledger.py`` for the report, ``--write`` to
refresh COVERAGE.md. tests/test_coverage_ledger.py asserts the
never-gated set only shrinks and that every hash-checkable backlog
query is either in the current official window or scheduled in a
planned rotation.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The bounded/approx sketch tier has no hashable oracle (only the local
# bounded comparator), so it can never earn a hash-green official row —
# excluded from the rotation backlog by construction.
UNGATEABLE = frozenset({
    "q58_describe_approx",
    "q59_distinct_approx",
    "q101_quality_band_approx",
})

# Rotation plan for the remaining hash-checkable backlog (VERDICT r7
# item 3, r8 item 1): rotation #4 (round 8) promoted q103/q105/q106/
# q108 + q110-q116; rotation #5 (round 9) promoted the LLM-curation
# mid tail q51/q60-q63/q65/q66/q68/q70-q72 plus q117/q118 (pulled
# forward from rotation #6). Rotation #6 retires the rest so every
# hash-checkable query has a row by round 10. Deferral candidates are
# chosen when the rotation lands (same subsumption playbook,
# tests/test_export_order.py SUBSUMPTION). Each entry maps the ROUND it
# lands in to (rotation_no, queries) — the rotation number is stored,
# not derived, so editing history never misnumbers the report.
PLANNED_ROTATIONS: dict[int, tuple[int, list[str]]] = {
    # (rotation #6 — the packing/analytics tail q73/q74/q78/q95/q99/
    # q100/q104/q107 + the round-9 operator tier q119-q122 — EXECUTED
    # in round 10; entry removed per the staleness contract in
    # tests/test_coverage_ledger.py.)
    # (rotation #7 — the round-9 late tier q123-q130 plus the round-10
    # operators q131-q135 — EXECUTED in round 11; entry removed per the
    # staleness contract in tests/test_coverage_ledger.py.  That burn
    # left the pre-r11 never-gated hash-checkable backlog EMPTY.  New
    # queries must still be registered into POST_WINDOW and scheduled
    # here, or they silently displace the pinned window.)
    # (rotation #8 — the round-11 additions q136-q141 (z-ordered
    # pruned read, mixture waterfill + applied sampler, ANN recall@k
    # curve, corpus diff, incremental annotation refresh) — EXECUTED
    # in round 12; entry removed per the staleness contract in
    # tests/test_coverage_ledger.py.  New queries must still be
    # registered into POST_WINDOW and scheduled here, or they silently
    # displace the pinned window.)
    # (rotation #9 — the round-12 additions q142-q151 (the production
    # hash-rank BPE lookup, multi-epoch mixture plan + expansion,
    # source novelty, embedding release drift, Moore-Lewis selection,
    # filtered vector search, Naive Bayes train/classify + streaming
    # fold, decontamination-by-excision) — EXECUTED in round 13; entry
    # removed per the staleness contract in
    # tests/test_coverage_ledger.py.  New queries must still be
    # registered into POST_WINDOW and scheduled here, or they silently
    # displace the pinned window.)
    # (rotation #10 — the round-13 additions q152-q158 (filtered
    # recall@k curve, DSIR importance weights + streaming pool fold,
    # PQ/ADC search, IVF-PQ raw + residual, PQ recall@k curve) —
    # EXECUTED in round 14; entry removed per the staleness contract
    # in tests/test_coverage_ledger.py.  New queries must still be
    # registered into POST_WINDOW and scheduled here, or they
    # silently displace the pinned window.)
    # (rotation #11 — the round-14 additions q159-q169 (the persisted
    # PQ store's serving + filtered search, refined recall, DSIR
    # resampling, streaming index ingestion, deletes, exact
    # re-ranking, the store health report, cluster-balanced sampling,
    # tokenizer fertility, semantic decontamination) — EXECUTED in
    # round 15; entry removed per the staleness contract in
    # tests/test_coverage_ledger.py.  That burn leaves the never-gated
    # hash-checkable backlog EMPTY again.  New queries must still be
    # registered into POST_WINDOW and scheduled here, or they
    # silently displace the pinned window.)
    # (rotation #12 — the round-15 additions: q172/q174-q176 were
    # deleted with the vector tier and q173/q177/q179 promoted INTO the
    # window to refill it; entry removed per the staleness contract in
    # tests/test_coverage_ledger.py.  New queries must still be
    # registered into POST_WINDOW and scheduled here, or they silently
    # displace the pinned window.)
}


def _correctness_files(max_round: int | None = None) -> list[tuple[int, str]]:
    out = []
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        base = os.path.basename(p)
        try:
            rnd = int(base.split("_r")[1].split(".")[0])
        except (IndexError, ValueError):
            continue
        if max_round is not None and rnd > max_round:
            continue
        out.append((rnd, p))
    return sorted(out)


def ledger(max_round: int | None = None) -> dict[str, dict]:
    """query -> {'rounds': [..green official rounds..], 'first': r|None,
    'last': r|None}. A row counts as green when hash_match is true, or
    (for rows-only checks) rows_match is true with no error.
    ``max_round`` restricts to CORRECTNESS files ≤ that round (the doc
    freshness test replays the doc's own horizon, so a NEW round file
    appearing after the doc was generated doesn't fail the suite)."""
    from real_time_iot_data_pipeline_project_spark import registry

    hist: dict[str, list[int]] = {q: [] for q in registry.QUERIES}
    for rnd, path in _correctness_files(max_round):
        with open(path) as f:
            data = json.load(f)
        for q, rec in data.items():
            ok = rec.get("hash_match") or (
                rec.get("rows_match") and rec.get("err") is None)
            if ok and q in hist:
                hist[q].append(rnd)
    return {
        q: {"rounds": rs, "first": rs[0] if rs else None,
            "last": rs[-1] if rs else None}
        for q, rs in hist.items()
    }


def never_gated(max_round: int | None = None) -> set[str]:
    return {q for q, rec in ledger(max_round).items() if not rec["rounds"]}


def latest_round() -> int:
    files = _correctness_files()
    return files[-1][0] if files else 0


def current_window() -> list[str]:
    import __spark_entry__ as entrymod
    return list(entrymod.queries())[:50]


def scheduled_queries() -> set[str]:
    return set().union(*(qs for _, qs in PLANNED_ROTATIONS.values())) \
        if PLANNED_ROTATIONS else set()


def report(max_round: int | None = None) -> str:
    if max_round is None:
        max_round = latest_round()
    led = ledger(max_round)
    window = set(current_window())
    never = never_gated(max_round)
    never_hash = sorted(never - UNGATEABLE)
    scheduled = scheduled_queries()
    lines = [
        "# COVERAGE — official-row ledger",
        "",
        "Generated by `python tools/coverage_ledger.py --write`. Unions "
        "every `CORRECTNESS_r*.json`; a query is *gated* once any round "
        "recorded a green official row for it. The external gate covers "
        "the first 50 exported queries per round, so rotation planning "
        "works off this ledger, not any single round.",
        "",
        f"Rounds covered: r1..r{max_round}.",
        "",
        f"- registered queries: {len(led)}",
        f"- ever gated: {len(led) - len(never)}",
        f"- never gated (hash-checkable): {len(never_hash)}",
        f"- never gated (structurally ungateable sketch tier): "
        f"{len(never & UNGATEABLE)} ({', '.join(sorted(never & UNGATEABLE))})",
        "",
        "## Never-gated backlog and its schedule",
        "",
        "| query | in current window? | planned rotation |",
        "|---|---|---|",
    ]
    for q in never_hash:
        rot = next((f"round {r} (#{no})" for r, (no, qs) in
                    sorted(PLANNED_ROTATIONS.items())
                    if q in qs), "")
        lines.append(
            f"| {q} | {'yes — gates this round' if q in window else 'no'} "
            f"| {rot or ('—' if q in window else 'UNSCHEDULED')} |")
    lines += [
        "",
        "## Planned rotations",
        "",
    ]
    for rnd, (no, qs) in sorted(PLANNED_ROTATIONS.items()):
        lines.append(f"- **rotation #{no} (round {rnd})**: promote "
                     + ", ".join(qs))
    lines += [
        "",
        "Deferral candidates are picked when each rotation lands, via "
        "the subsumption playbook (tests/test_export_order.py "
        "SUBSUMPTION: every deferred twin keeps an in-window survivor "
        "for its operator family, and every deferred oracle still runs "
        "in the local gate).",
        "",
        "## Per-query official-row history",
        "",
        "| query | first | last | rounds |",
        "|---|---|---|---|",
    ]
    for q in sorted(led):
        rec = led[q]
        rs = ",".join(f"r{r}" for r in rec["rounds"]) or "—"
        lines.append(f"| {q} | {rec['first'] or '—'} | "
                     f"{rec['last'] or '—'} | {rs} |")
    lines.append("")
    _ = scheduled  # (scheduled set is asserted by the test)
    return "\n".join(lines)


def main() -> int:
    text = report()
    if "--write" in sys.argv:
        out = os.path.join(REPO, "COVERAGE.md")
        with open(out, "w") as f:
            f.write(text)
        print(f"wrote {out}")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
