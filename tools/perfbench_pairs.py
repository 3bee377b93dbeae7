"""Alternating parent/change pairs of the benchmark of record.

Usage (from anywhere):

    python3 tools/perfbench_pairs.py PARENT_TREE CHANGE_TREE live_ingest 701 702 703
    python3 tools/perfbench_pairs.py PARENT_TREE CHANGE_TREE live_ingest 901 902 \\
        --trace 1 --metric streaming.job.state_commit_ms_p50 --metric streaming.job.fixed_ms_p50

For each seed it runs ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace T`` once in each tree (the tree is the working
directory), parent first on even pair numbers and change first on odd
ones, so drift in host load falls on both sides alike. Each run's values
are read from the JSON record that run.py writes and names on its
``record:`` line.

It prints one line per pair (every metric and ``cpu_steal_s`` of both
runs), then per side the median and quartiles of each metric, the
change's win count over the pairs where both runs passed their output
gate, and whether the median gap exceeds the parent's interquartile
range. Metrics default to the end-to-end ones; ``--metric`` picks others
(per-layer metrics need ``--trace 1``). Which direction is better is read
from the parent tree's BENCHMARK.json. The last line is the summary as
JSON. Nothing is imported from perfbench.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def run(tree: str, workload: str, seed: int, seconds: int, trace: int, timeout: int) -> dict:
    """One run.py process in ``tree``; its record, or ``{"correct": False}``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"correct": False, "problems": [f"timed out after {timeout} s"]}
    for line in proc.stdout.splitlines():
        if line.strip().startswith("record:"):
            with open(os.path.join(tree, line.split(":", 1)[1].strip())) as f:
                return json.load(f)
    return {"correct": False, "problems": [f"no record (exit {proc.returncode})"]}


def value(rec: dict, metric: str):
    return rec.get("end_to_end", {}).get(metric, rec.get("per_layer", {}).get(metric))


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return (vals[0],) * 3
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metric", action="append", help="metric to report (repeatable)")
    ap.add_argument("--timeout", type=int, default=900, help="seconds per run")
    args = ap.parse_args(argv)
    trees = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}

    with open(os.path.join(trees["parent"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    metrics = args.metric or [m["name"] for m in bench["end_to_end"]]

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        recs = {side: run(trees[side], args.workload, seed, args.seconds, args.trace,
                          args.timeout) for side in order}
        pairs.append((seed, recs))
        cells = []
        for side in SIDES:
            r = recs[side]
            vals = " ".join(f"{m}={value(r, m):.4g}" if value(r, m) is not None else f"{m}=-"
                            for m in metrics)
            gate = "ok" if r.get("correct") else "FAILED " + "; ".join(r.get("problems", []))[:120]
            cells.append(f"{side}: {vals} cpu_steal_s={r.get('cpu_steal_s', 0):.1f} {gate}")
        print(f"seed {seed} ({order[0]} first) | " + " | ".join(cells), flush=True)

    ok = [(seed, r) for seed, r in pairs if all(r[s].get("correct") for s in SIDES)]
    summary = {"workload": args.workload, "seeds": args.seeds, "pairs_ok": len(ok),
               "steal": {s: [r[s].get("cpu_steal_s") for _, r in pairs] for s in SIDES},
               "metrics": {}}
    print(f"{len(ok)} of {len(pairs)} pairs passed their output gate on both sides")
    for m in metrics:
        vals = {s: [value(r[s], m) for _, r in ok] for s in SIDES}
        if not ok or None in vals["parent"] + vals["change"]:
            print(f"{m}: no values")
            continue
        lower = better.get(m, "lower") == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
        q = {s: quartiles(vals[s]) for s in SIDES}
        gap = abs(q["change"][1] - q["parent"][1])
        iqr = q["parent"][2] - q["parent"][0]
        went_better = (q["change"][1] < q["parent"][1]) if lower else \
            (q["change"][1] > q["parent"][1])
        favours = "change" if went_better else "parent" if gap else "neither side"
        print(f"{m} ({better.get(m, 'lower')} is better): "
              + " ".join(f"{s} median {q[s][1]:.4g} [q1 {q[s][0]:.4g}, q3 {q[s][2]:.4g}]"
                         for s in SIDES)
              + f" change/parent {q['change'][1] / q['parent'][1]:.3f}"
              f" wins {wins}/{len(ok)}, median favours {favours}"
              f" by {'more than' if gap > iqr else 'no more than'} the parent IQR {iqr:.4g}")
        summary["metrics"][m] = {"parent": vals["parent"], "change": vals["change"],
                                 "wins": wins, "parent_iqr": iqr,
                                 "median": {s: q[s][1] for s in SIDES}}
    print(json.dumps(summary))
    return 0 if len(ok) == len(pairs) else 1


if __name__ == "__main__":
    sys.exit(main())
