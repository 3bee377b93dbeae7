"""The ``batch_dashboard`` workload: no streaming at all.

Write path: entry point A (``pipelines.consume_and_process``) turns each
domain's raw CSV log into station-partitioned parquet, then
``warehouse.star`` builds and saves both star schemas from it. Read path:
rounds of ``pipelines.dashboard_panels`` for both domains over the
processed parquet, each panel collected and timed on its own. The first
round fills the cache and is kept out of the latencies. The reported
latency is a whole round (every panel of both domains, one after the
other: a dashboard refresh); single panels mix a few slow kinds (pivot,
exact median) with many fast ones, so a percentile over single panels
lands between kinds and jumps from run to run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark import pipelines, stations
from real_time_iot_data_pipeline_project_spark.operators import cleaning, features
from real_time_iot_data_pipeline_project_spark.sources import io as sio
from real_time_iot_data_pipeline_project_spark.warehouse import star

import gen
from tracing import quantile

DOMAINS = ("solar", "wind")
ROWS_PER_S = 5_000      # raw CSV rows per domain per second of --seconds
CSV_PARTS = 4           # the log is a directory of part files, as Spark appends it
WARMUP_ROWS = 2_000
WARM_ROUNDS_PER_S = 0.5
# panel key in dashboard_panels → the operators.analytics function behind it
PANEL_FN = {
    "global_metrics": "global_metrics", "station_energy": "station_energy",
    "energy_by_hour": "energy_by_hour", "ranking": "station_ranking",
    "value_dist": "describe_stats", "pivot": "pivot_align",
    "speed_power_corr": "correlation", "regression": "linear_regression",
    "wind_class_counts": "value_counts",
}
READ = {"solar": sio.read_solar_log, "wind": sio.read_wind_log}
CLEAN = {"solar": cleaning.clean_solar, "wind": cleaning.clean_wind}
FEATURIZE = {"solar": features.featurize_solar, "wind": features.featurize_wind}
BUILD_STAR = {"solar": star.build_solar_star, "wind": star.build_wind_star}
STATION_DIM = {"solar": stations.solar_station_dim, "wind": stations.wind_station_dim}
FACT = {"solar": "Fact_Solar", "wind": "Fact_Wind"}


def write_csv_log(path: str, data: gen.Domain, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    lines = data.csv_lines
    step = -(-len(lines) // parts)
    for p in range(parts):
        with open(os.path.join(path, f"part-{p:05d}.csv"), "w") as f:
            f.write(data.csv_header + "\n")
            f.write("\n".join(lines[p * step:(p + 1) * step]) + "\n")


def panel_round(tracer, panels: dict[str, dict], trace: str, timings: dict | None) -> dict:
    """Collect every panel of both domains once; returns the collected rows."""
    out = {}
    with tracer.span("pipelines.dashboard_panels.round", trace=trace):
        for d in DOMAINS:
            for key, df in panels[d].items():
                fn = PANEL_FN[key]
                with tracer.span(f"operators.analytics.{fn}", domain=d):
                    t0 = time.time()
                    out[(d, key)] = df.collect()
                    dt = time.time() - t0
                if timings is not None:
                    timings.setdefault(fn, []).append(dt)
    return out


def _setup(ctx, root: str, warm_logs: dict[str, str]):
    """Session start and the first processed result (entry point A on the
    small warm-up logs of both domains), repeated; the median is setup_s.
    The first repetition also launches the JVM."""
    times, spark = [], None
    for i in range(ctx.setup_repeats):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        spark = ctx.session()
        with ctx.tracer.span("setup.warmup_batch", trace=f"setup:{i}"):
            for d in DOMAINS:
                pipelines.consume_and_process(spark, d, warm_logs[d],
                                              os.path.join(root, f"warm{i}", d))
        times.append(time.time() - t0)
    return spark, times


def _noop_write(tracer, df, name: str, domain: str) -> float:
    """Run ``df`` to completion without writing anything; returns seconds."""
    with tracer.span(name, domain=domain, trace="stages"):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0


def _trace_stages(ctx, spark, logs: dict[str, str], processed_paths: dict[str, str]):
    """Traced run only: force each write-path stage with a noop write and
    time it from outside; each stage's time is the difference to the
    stage before it."""
    tr, lv = ctx.tracer, ctx.layer_values
    for key in ("sources.io.read_csv_s", "operators.cleaning.clean_s",
                "operators.features.featurize_s", "sources.io.write_parquet_s"):
        lv[key] = 0.0
    rows_in = rows_out = 0
    for d in DOMAINS:
        raw = READ[d](spark, logs[d])
        t_read = _noop_write(tr, raw, "sources.io.read_csv", d)
        cleaned = CLEAN[d](raw, deterministic_dedup=True)
        t_clean = _noop_write(tr, cleaned, "operators.cleaning.clean", d)
        t_feat = _noop_write(tr, FEATURIZE[d](cleaned), "operators.features.featurize", d)
        lv["sources.io.read_csv_s"] += t_read
        lv["operators.cleaning.clean_s"] += max(t_clean - t_read, 0.0)
        lv["operators.features.featurize_s"] += max(t_feat - t_clean, 0.0)
        lv["sources.io.write_parquet_s"] += max(ctx.extra["consume_and_process_s"][d] - t_feat, 0.0)
        rows_in += raw.count()
        rows_out += spark.read.parquet(processed_paths[d]).count()
    lv["operators.cleaning.rows_in"] = rows_in
    lv["operators.cleaning.rows_out"] = rows_out
    lv["operators.cleaning.yield_ratio"] = rows_out / rows_in if rows_in else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _verify(spark, data: dict[str, gen.Domain], processed_paths: dict[str, str],
            star_paths: dict[str, str], collected: dict) -> tuple[int, list[str], int]:
    """Output gate: processed rows per station match the manifest, no key
    twice, fact rows equal processed rows, and the station_energy and
    global_metrics panels match the manifest's sums within 1e-9.
    Returns (checks made, mismatches, fact rows)."""
    checks, problems, fact_rows = 0, [], 0

    def close(got, want):
        return got is not None and abs(got - want) <= 1e-9 * max(abs(want), 1e-300)

    for d in DOMAINS:
        m = data[d].manifest
        df = spark.read.parquet(processed_paths[d])
        counts = {r["station_id"]: r["n"] for r in
                  df.groupBy("station_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        for sid, want in m["per_station"].items():
            checks += 1
            if counts.get(sid, 0) != want["rows"]:
                problems.append(f"{d} {sid}: {counts.get(sid, 0)} processed rows, "
                                f"manifest {want['rows']}")
        checks += 1
        dup = df.groupBy("station_id", "timestamp").count().filter("count > 1").count()
        if dup:
            problems.append(f"{d}: {dup} (station_id, timestamp) keys appear twice")
        checks += 1
        facts = spark.read.parquet(os.path.join(star_paths[d], FACT[d])).count()
        fact_rows += facts
        if facts != sum(counts.values()):
            problems.append(f"{d}: {facts} fact rows, {sum(counts.values())} processed rows")
        energy_rows = {r["station_id"]: r["total_energy_kWh"] for r in collected[(d, "station_energy")]}
        for sid, want in m["per_station"].items():
            checks += 1
            if not close(energy_rows.get(sid), want["energy_sum"]):
                problems.append(f"{d} {sid}: station_energy {energy_rows.get(sid)!r}, "
                                f"manifest {want['energy_sum']!r}")
        g = collected[(d, "global_metrics")][0].asDict()
        for k, want in m["global"].items():
            checks += 1
            if not close(g.get(k), want):
                problems.append(f"{d}: global_metrics {k} {g.get(k)!r}, manifest {want!r}")
    return checks, problems, fact_rows


def run_batch_dashboard(ctx) -> dict:
    tracer = ctx.tracer
    n_unique = int(ctx.seconds * ROWS_PER_S)
    root = ctx.tmp("run")
    data = {d: gen.generate(d, n_unique, ctx.seed, fmt="csv") for d in DOMAINS}
    logs = {d: os.path.join(root, "logs", d) for d in DOMAINS}
    warm_logs = {d: os.path.join(root, "warm_logs", d) for d in DOMAINS}
    for d in DOMAINS:
        write_csv_log(logs[d], data[d], CSV_PARTS)
        write_csv_log(warm_logs[d], gen.generate(d, WARMUP_ROWS, ctx.seed + 1, fmt="csv"), 1)
    raw_rows = sum(len(data[d].csv_lines) for d in DOMAINS)
    ctx.sizes.update({f"{d}_csv_rows": len(data[d].csv_lines) for d in DOMAINS})
    ctx.sizes["csv_parts"] = CSV_PARTS

    spark, setup_times = _setup(ctx, root, warm_logs)
    processed_paths = {d: os.path.join(root, "processed", d) for d in DOMAINS}
    star_paths = {d: os.path.join(root, "star", d) for d in DOMAINS}
    cap_s = {}
    with tracer.span("workload.timed", trace="timed"):
        t0 = time.time()
        for d in DOMAINS:
            with tracer.span("pipelines.consume_and_process", domain=d):
                t = time.time()
                pipelines.consume_and_process(spark, d, logs[d], processed_paths[d])
                cap_s[d] = time.time() - t
        t_star = time.time()
        for d in DOMAINS:
            with tracer.span("warehouse.star.build_save", domain=d):
                tables = BUILD_STAR[d](spark.read.parquet(processed_paths[d]), STATION_DIM[d](spark))
                star.save_star(tables, star_paths[d])
        batch_s = time.time() - t0
        star_s = time.time() - t_star

        panels = {d: pipelines.dashboard_panels(spark.read.parquet(processed_paths[d]), d)
                  for d in DOMAINS}
        t = time.time()
        collected = panel_round(tracer, panels, "round:0", None)
        cold_s = time.time() - t
        timings: dict[str, list[float]] = {}
        rounds = []
        n_rounds = max(4, int(round(ctx.seconds * WARM_ROUNDS_PER_S)))
        for r in range(1, n_rounds + 1):
            t = time.time()
            collected = panel_round(tracer, panels, f"round:{r}", timings)
            rounds.append(time.time() - t)

    checks, problems, fact_rows = _verify(spark, data, processed_paths, star_paths, collected)
    ctx.extra["consume_and_process_s"] = cap_s
    if tracer.enabled:
        _trace_stages(ctx, spark, logs, processed_paths)
        lv = ctx.layer_values
        lv["sources.io.bytes_written"] = sum(_dir_bytes(processed_paths[d]) for d in DOMAINS)
        lv["pipelines.consume_and_process_s"] = sum(cap_s.values())
        lv["warehouse.star.build_save_s"] = star_s
        lv["warehouse.star.fact_rows"] = fact_rows
        lv["pipelines.dashboard_panels.cold_round_s"] = cold_s
        for fn, vals in timings.items():
            lv[f"operators.analytics.{fn}_p50_s"] = quantile(vals, 0.5)
    spark.stop()

    n_panels = sum(len(p) for p in panels.values()) * (n_rounds + 1)
    ctx.attempted += n_panels + checks + 2 * len(DOMAINS)
    ctx.failed += len(problems)
    ctx.problems += problems
    ctx.extra.update({"latency_samples": len(rounds), "warm_rounds": n_rounds,
                      "panel_p50_s": quantile([v for vs in timings.values() for v in vs], 0.5),
                      "setup_runs_s": setup_times, "cold_round_s": cold_s,
                      "manifest": {d: data[d].manifest for d in DOMAINS}})
    return {
        "setup_s": quantile(setup_times, 0.5),
        "latency_p50_s": quantile(rounds, 0.5),
        "latency_p90_s": quantile(rounds, 0.9),
        "rows_per_s": raw_rows / batch_s,
    }
