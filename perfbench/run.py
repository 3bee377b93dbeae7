"""Benchmark of record for the telemetry pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # all three, untraced then traced

Workloads (see perfbench/README.md for the metric definitions):

- ``live_ingest``     open loop: both streams get a 250-line file every 250 ms;
- ``backfill_ingest`` closed loop: both streams drain a staged backlog of
                      25k-line files, one file per micro-batch, availableNow;
- ``batch_dashboard`` closed loop, one client: CSV logs → processed parquet →
                      star schema, then rounds of dashboard panels.

Every run pins the environment (``SPARK_GRAFT_CPUS`` from the CPUs this
process may use, ``SPARK_LOCAL_DIRS`` and all temporary files under
``.perfbench/`` in the current directory), checks the program's outputs
against the generator's manifest, writes a JSON record to
``.perfbench/records/``, and prints one JSON result as its last line. It
exits non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("live_ingest", "backfill_ingest", "batch_dashboard")
SETUP_REPEATS = 3

# end-to-end metric → (unit, better, meaning on each workload)
END_TO_END = {
    "setup_s": ("s", "lower", {
        "live_ingest": "session start + both queries started + first committed micro-batch",
        "backfill_ingest": "session start + both queries started + first committed micro-batch",
        "batch_dashboard": "session start + first processed result of small warm-up logs"}),
    "latency_p50_s": ("s", "lower", {
        "live_ingest": "ingest_latency_p50_s: file due time to commit of the batch that read it",
        "backfill_ingest": "median time from backfill start to commit of each backlog file",
        "batch_dashboard": "dashboard refresh: one warm round of every panel, both domains"}),
    "latency_p90_s": ("s", "lower", {
        "live_ingest": "ingest_latency p90 (same samples as p50)",
        "backfill_ingest": "p90 of the backlog files' commit times",
        "batch_dashboard": "p90 of the warm rounds"}),
    "rows_per_s": ("1/s", "higher", {
        "live_ingest": "input rows committed per second of the run (offered ~2k/s)",
        "backfill_ingest": "backfill_rows_per_s: backlog rows / drain time",
        "batch_dashboard": "batch_rows_per_s: raw CSV rows / (processed parquet + saved star)"}),
}

# per-layer metric → (unit, end-to-end metric it should move, workload)
PANEL_FNS = ("global_metrics", "station_energy", "energy_by_hour", "station_ranking",
             "describe_stats", "pivot_align", "correlation", "linear_regression",
             "value_counts")
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s", "all"),
    "streaming.job.fixed_ms_p50": ("ms", "latency_p50_s", "live_ingest"),
    "streaming.job.query_planning_ms_p50": ("ms", "latency_p50_s", "live_ingest"),
    "streaming.job.latest_offset_ms_p50": ("ms", "latency_p50_s", "live_ingest"),
    "streaming.job.wal_commit_ms_p50": ("ms", "latency_p50_s", "live_ingest"),
    "streaming.job.commit_offsets_ms_p50": ("ms", "latency_p50_s", "live_ingest"),
    "streaming.job.nodata_batches": ("count", "latency_p50_s", "live_ingest"),
    "streaming.job.batches": ("count", "latency_p50_s", "live_ingest"),
    "streaming.job.add_batch_ms_p50": ("ms", "rows_per_s", "backfill_ingest"),
    "streaming.job.rows_per_batch_p50": ("count", "rows_per_s", "backfill_ingest"),
    "streaming.job.state_rows": ("count", "rows_per_s", "backfill_ingest"),
    "streaming.job.state_memory_bytes": ("bytes", "rows_per_s", "backfill_ingest"),
    "streaming.job.state_commit_ms_p50": ("ms", "rows_per_s", "backfill_ingest"),
    "streaming.job.rows_dropped_by_watermark": ("count", "checked", "live_ingest,backfill_ingest"),
    "streaming.job.rows_out": ("count", "checked", "live_ingest,backfill_ingest"),
    "sources.io.read_csv_s": ("s", "rows_per_s", "batch_dashboard"),
    "operators.cleaning.clean_s": ("s", "rows_per_s", "batch_dashboard"),
    "operators.cleaning.rows_in": ("count", "rows_per_s", "batch_dashboard"),
    "operators.cleaning.rows_out": ("count", "rows_per_s", "batch_dashboard"),
    "operators.cleaning.yield_ratio": ("ratio", "rows_per_s", "batch_dashboard"),
    "operators.features.featurize_s": ("s", "rows_per_s", "batch_dashboard"),
    "sources.io.write_parquet_s": ("s", "rows_per_s", "batch_dashboard"),
    "sources.io.bytes_written": ("bytes", "rows_per_s", "batch_dashboard"),
    "pipelines.consume_and_process_s": ("s", "rows_per_s", "batch_dashboard"),
    "warehouse.star.build_save_s": ("s", "rows_per_s", "batch_dashboard"),
    "warehouse.star.fact_rows": ("count", "rows_per_s", "batch_dashboard"),
    **{f"operators.analytics.{fn}_p50_s": ("s", "latency_p50_s", "batch_dashboard")
       for fn in PANEL_FNS},
    "pipelines.dashboard_panels.cold_round_s": ("s", "none (cold start)", "batch_dashboard"),
    "spark.jobs": ("count", "all", "all"),
    "spark.stages": ("count", "all", "all"),
}


# which workloads call the layers behind each metric-name prefix
PRODUCERS = {"streaming.": ("live_ingest", "backfill_ingest"),
             "session.": WORKLOADS, "spark.": WORKLOADS}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over CPUs (Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class Context:
    """What one workload run shares with the code that drives it."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, base: str):
        from tracing import Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.base = base
        self.setup_repeats = SETUP_REPEATS
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.sizes: dict = {}
        self.extra: dict = {}
        self.get_spark_s: list[float] = []
        self.layer_values: dict[str, float] = {}

    def tmp(self, name: str) -> str:
        path = os.path.join(self.base, name)
        os.makedirs(path, exist_ok=True)
        return path

    def session(self):
        """Start a SparkSession through the program's factory, timed."""
        from real_time_iot_data_pipeline_project_spark.session import get_spark

        self.tracer.sc = None   # the previous context, if any, is stopped
        with self.tracer.span("session.get_spark"):
            t0 = time.time()
            spark = get_spark(app_name="perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp('jvm_tmp')}",
                "spark.sql.warehouse.dir": self.tmp("warehouse"),
            })
            self.get_spark_s.append(time.time() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = spark.sparkContext
        return spark


def pin_environment(base: str) -> int:
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    local = os.path.join(base, "spark_local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = base
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cpus


def stop_jvm() -> None:
    """Stop the Spark context if one is left, then the JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(ctx: Context) -> dict[str, float]:
    """Every per-layer metric; one this workload does not exercise is 0."""
    from tracing import quantile

    vals = {name: 0.0 for name in PER_LAYER}
    if ctx.get_spark_s:
        vals["session.get_spark_s"] = quantile(ctx.get_spark_s, 0.5)
    vals.update(ctx.layer_values)
    st = ctx.tracer.self_times()
    vals["spark.jobs"] = sum(r["jobs"] for r in st.values())
    vals["spark.stages"] = sum(r["stages"] for r in st.values())
    return vals


def latest_untraced(records: str, workload: str, seed: int, seconds: int) -> dict | None:
    if not os.path.isdir(records):
        return None
    found = None
    for name in sorted(os.listdir(records)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(records, name)) as f:
            rec = json.load(f)
        if (rec.get("workload"), rec.get("seed"), rec.get("seconds"), rec.get("trace")) == \
                (workload, seed, seconds, False) and rec.get("correct"):
            found = rec
    return found


def run_one(args) -> int:
    import pyspark

    cwd = os.getcwd()
    state = os.path.join(cwd, ".perfbench")
    base = os.path.join(state, "tmp", f"{args.workload}-{os.getpid()}")
    cpus = pin_environment(base)
    sys.path.insert(0, cwd)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), base)
    started, steal0 = time.time(), cpu_steal_s()
    e2e: dict[str, float] = {}
    try:
        if args.workload == "batch_dashboard":
            from batch import run_batch_dashboard

            e2e = run_batch_dashboard(ctx)
        else:
            from streams import run_stream_workload

            e2e = run_stream_workload(ctx, live=args.workload == "live_ingest")
    except Exception:  # report and fail the run; never print a partial result as valid
        traceback.print_exc()
        ctx.problems.append("workload raised: " + traceback.format_exc().strip().splitlines()[-1])
        ctx.failed += 1
        ctx.attempted += 1
    finally:
        stop_jvm()
        shutil.rmtree(base, ignore_errors=True)

    correct = ctx.failed == 0 and not ctx.problems and len(e2e) == len(END_TO_END)
    layers = layer_metrics(ctx) if args.trace else {}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "cpus": cpus, "spark_version": pyspark.__version__,
        "python": sys.version.split()[0], "started": started, "wall_s": time.time() - started,
        "cpu_steal_s": cpu_steal_s() - steal0,
        "sizes": ctx.sizes, "correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_ops_ratio": ctx.failed / max(ctx.attempted, 1), "problems": ctx.problems,
        "end_to_end": e2e, "per_layer": layers, "extra": ctx.extra,
    }
    print(f"== {args.workload}  seed={args.seed}  seconds={args.seconds}  trace={args.trace}"
          f"  cpus={cpus}  spark={pyspark.__version__}")
    print(f"   sizes: {json.dumps(ctx.sizes)}")
    for p in ctx.problems:
        print(f"   CHECK FAILED: {p}")
    print(f"   failed_ops_ratio = {record['failed_ops_ratio']:.6f}  "
          f"({ctx.failed} of {ctx.attempted} micro-batches, files, panels and checks)")
    for name, value in e2e.items():
        unit, _, meaning = END_TO_END[name]
        print(f"   {name:16s} = {value:14.6f} {unit:4s}  # {meaning[args.workload]}")
    print(f"   cpu_steal_s = {record['cpu_steal_s']:.2f}  (CPU time the host gave to others)")
    for key in ("ingest_backlog_end_s", "generator_late_p50_s", "generator_late_max_s",
                "latency_samples", "warm_rounds"):
        if key in ctx.extra and ctx.extra[key] is not None:
            print(f"   {key} = {ctx.extra[key]}")
    if args.trace:
        print("   per-layer metrics (metric = value unit -> end-to-end metric it should move,"
              " on workload):")
        for name, value in layers.items():
            unit, target, wl = PER_LAYER[name]
            producers = next((w for p, w in PRODUCERS.items() if name.startswith(p)),
                             ("batch_dashboard",))
            note = "" if args.workload in producers else "   (layer not called by this workload)"
            print(f"     {name} = {value} {unit} -> {target} on {wl}{note}")
        st = ctx.tracer.self_times()
        record["self_times"] = st
        record["spans"] = ctx.tracer.spans
        print("   self time per span (calls, total s, self s, spark jobs, stages):")
        for name, r in sorted(st.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"     {name:48s} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f}"
                  f" {r['jobs']:5d} {r['stages']:5d}")
        base_rec = latest_untraced(os.path.join(state, "records"), args.workload, args.seed,
                                   args.seconds)
        if base_rec:
            over = {k: e2e[k] / base_rec["end_to_end"][k] - 1 for k in e2e
                    if base_rec["end_to_end"].get(k)}
            record["tracing_overhead"] = over
            print("   tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {v:+.1%}" for k, v in over.items()))
        else:
            print("   tracing overhead: no untraced record of this workload and seed yet")
    os.makedirs(os.path.join(state, "records"), exist_ok=True)
    rec_path = os.path.join(state, "records",
                            f"{int(started * 1000)}-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, default=str)
    print(f"   record: {os.path.relpath(rec_path, cwd)}")

    source = layers if args.trace else e2e
    units = {k: PER_LAYER[k][0] for k in PER_LAYER} if args.trace else \
        {k: v[0] for k, v in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in source.items()}}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    metrics, ok, attempted, failed = {}, True, 0, 0
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            out = proc.stdout.rstrip("\n").splitlines()
            print("\n".join(out[:-1]))
            try:
                res = json.loads(out[-1])
            except (IndexError, json.JSONDecodeError):
                print(f"{wl} trace={trace}: no result (exit {proc.returncode})")
                ok = False
                continue
            ok &= proc.returncode == 0 and res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            if not trace:
                metrics.update({f"{wl}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(os.getcwd(), "real_time_iot_data_pipeline_project_spark")):
        print("perfbench: run from the repository root; the pipeline package is not here",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
