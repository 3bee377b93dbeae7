"""The two streaming workloads: ``live_ingest`` (open loop) and
``backfill_ingest`` (closed loop).

Both run the solar and wind streams at once, as the reference's two
topics, through the program's entry point B: ``parse_json_stream`` →
``solar_/wind_stream_transform`` (watermarked dedup) →
``start_parquet_sink`` (station-partitioned parquet + checkpoint). The
input is a directory of JSON-lines files per stream (the Kafka value
shape); each file appears atomically by rename.

Latency is attributed on the host's wall clock from each query's
``StreamingQueryProgress`` (a ``StreamingQueryListener``): files are read
in modification-time order, so the running sum of ``numInputRows`` says
which files a micro-batch finished, and the batch's commit time is its
trigger start plus ``triggerExecution``. No checkpoint file is read.
"""

from __future__ import annotations

import datetime
import os
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from real_time_iot_data_pipeline_project_spark import schemas
from real_time_iot_data_pipeline_project_spark.streaming import job

import gen
from tracing import quantile

DOMAINS = ("solar", "wind")
VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])
RAW_SCHEMA = {"solar": schemas.SOLAR_RAW_SCHEMA, "wind": schemas.WIND_RAW_SCHEMA}
TRANSFORM = {"solar": job.solar_stream_transform, "wind": job.wind_stream_transform}
TRANSFORM_SPAN = {"solar": "streaming.job.solar_stream_transform",
                  "wind": "streaming.job.wind_stream_transform"}

LIVE_FILE_ROWS = 250          # lines per file per stream
LIVE_INTERVAL_S = 0.25        # one file per stream every 250 ms: ~2k rows/s in total
LIVE_WARMIN_S = 1.5           # files due this soon after the first are not measured
BACKFILL_FILE_ROWS = 25_000   # one file per micro-batch (maxFilesPerTrigger=1)
BACKFILL_ROWS_PER_S = 10_000  # backlog per domain per second of --seconds
WARMUP_ROWS = 500
DRAIN_TIMEOUT_S = 60.0
# micro-batch phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Every query's progress events, as plain dicts, keyed by query id."""

    def __init__(self):
        self.cond = threading.Condition()
        self.events: dict[str, list[dict]] = {}
        self.errors: dict[str, str] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "batch": p.batchId,
            "start": _epoch(p.timestamp),
            "ms": dict(p.durationMs),
            "rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "dropped": sum(s.numRowsDroppedByWatermark for s in p.stateOperators),
        }
        rec["end"] = rec["start"] + rec["ms"].get("triggerExecution", 0) / 1000.0
        with self.cond:
            self.events.setdefault(str(p.id), []).append(rec)
            self.cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.cond:
            if event.exception:
                self.errors[str(event.id)] = event.exception
            self.cond.notify_all()

    def rows(self, qid: str) -> int:
        return sum(e["rows"] for e in self.events.get(qid, []))

    def wait_rows(self, want: dict[str, int], timeout: float) -> bool:
        """Block until each query ``qid`` has read ``want[qid]`` rows, or a
        query failed, or ``timeout`` passes. True when all rows arrived."""
        deadline = time.time() + timeout
        with self.cond:
            while True:
                if all(self.rows(q) >= n for q, n in want.items()):
                    return True
                if any(q in self.errors for q in want):
                    return False
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(left)


class Streams:
    """Both domains' queries over one input root, with fresh sink and
    checkpoint directories."""

    def __init__(self, spark, tracer, root: str, max_files: int | None, available_now: bool):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.inputs = {d: os.path.join(root, "in", d) for d in DOMAINS}
        self.sinks = {d: os.path.join(root, "sink", d) for d in DOMAINS}
        self.max_files, self.available_now = max_files, available_now
        for d in DOMAINS:
            os.makedirs(self.inputs[d], exist_ok=True)
        self.queries = {}

    def start(self):
        for d in DOMAINS:
            reader = self.spark.readStream.schema(VALUE_SCHEMA)
            if self.max_files:
                reader = reader.option("maxFilesPerTrigger", self.max_files)
            raw = reader.text(self.inputs[d])
            with self.tracer.span("streaming.job.parse_json_stream", domain=d):
                parsed = job.parse_json_stream(raw, RAW_SCHEMA[d])
            with self.tracer.span(TRANSFORM_SPAN[d], domain=d):
                out = TRANSFORM[d](parsed)
            with self.tracer.span("streaming.job.start_parquet_sink", domain=d):
                self.queries[d] = job.start_parquet_sink(
                    out, self.sinks[d], os.path.join(self.root, "ckpt", d),
                    available_now=self.available_now)

    def ids(self) -> dict[str, str]:
        return {d: str(q.id) for d, q in self.queries.items()}

    def stop(self):
        for q in self.queries.values():
            q.stop()


def write_file(staging: str, target_dir: str, name: str, body: str) -> float:
    """Write ``body`` so it appears in ``target_dir`` whole (rename), and
    return the time it appeared."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write(body)
    os.replace(tmp, os.path.join(target_dir, name))
    return time.time()


def _warmup_once(spark, tracer, progress, root: str, bodies: dict[str, str]) -> None:
    """Start both queries on a one-file input and wait for the first
    committed micro-batch of each."""
    s = Streams(spark, tracer, root, max_files=None, available_now=False)
    s.start()
    for d in DOMAINS:
        write_file(root, s.inputs[d], "warmup.json", bodies[d])
    want = {qid: bodies[d].count("\n") for d, qid in s.ids().items()}
    ok = progress.wait_rows(want, DRAIN_TIMEOUT_S)
    s.stop()
    if not ok:
        raise RuntimeError("warm-up micro-batch did not commit")


def _batch_stats(progress: ProgressLog, ids: dict[str, str]) -> dict:
    """Per-layer numbers from the micro-batch progress of both streams."""
    evs = [e for d in DOMAINS for e in progress.events.get(ids[d], [])]
    data = [e for e in evs if e["rows"] > 0]
    nodata = [e for e in evs if e["rows"] == 0]

    def p50(key_fn, batches):
        vals = [key_fn(e) for e in batches]
        return quantile(vals, 0.5) if vals else 0.0

    ms = lambda k: (lambda e: e["ms"].get(k, 0))  # noqa: E731
    return {
        "streaming.job.fixed_ms_p50": p50(lambda e: e["ms"].get("triggerExecution", 0)
                                          - e["ms"].get("addBatch", 0), data),
        "streaming.job.query_planning_ms_p50": p50(ms("queryPlanning"), data),
        "streaming.job.latest_offset_ms_p50": p50(ms("latestOffset"), data),
        "streaming.job.wal_commit_ms_p50": p50(ms("walCommit"), data),
        "streaming.job.commit_offsets_ms_p50": p50(ms("commitOffsets"), data),
        "streaming.job.nodata_batches": len(nodata),
        "streaming.job.batches": len(evs),
        "streaming.job.add_batch_ms_p50": p50(ms("addBatch"), data),
        "streaming.job.rows_per_batch_p50": p50(lambda e: e["rows"], data),
        "streaming.job.state_rows": sum(max((e["state_rows"] for e in progress.events.get(ids[d], [])),
                                            default=0) for d in DOMAINS),
        "streaming.job.state_memory_bytes": sum(
            max((e["state_bytes"] for e in progress.events.get(ids[d], [])), default=0)
            for d in DOMAINS),
        "streaming.job.state_commit_ms_p50": p50(lambda e: e["state_commit_ms"], data),
        "streaming.job.rows_dropped_by_watermark": sum(e["dropped"] for e in evs),
    }


def _trace_batches(tracer, progress: ProgressLog, ids: dict[str, str], parent: int | None):
    """Each micro-batch as a span with its ``durationMs`` phases as children."""
    for d in DOMAINS:
        for e in progress.events.get(ids[d], []):
            trace = f"{d}:{e['batch']}"
            sid = tracer.add("streaming.job.micro_batch", e["start"], e["end"], parent, trace,
                             domain=d, rows=e["rows"])
            cursor = e["start"]
            for phase in PHASES:
                dur = e["ms"].get(phase, 0) / 1000.0
                if dur:
                    tracer.add(f"streaming.job.{phase}", cursor, cursor + dur, sid, trace)
                    cursor += dur


def _file_commits(events: list[dict], bounds: list[int]) -> list[float | None]:
    """Commit time of each file, given the cumulative line count at the end
    of each file and the query's progress events in batch order."""
    out: list[float | None] = [None] * len(bounds)
    cum, i = 0, 0
    for e in sorted(events, key=lambda e: e["batch"]):
        cum += e["rows"]
        while i < len(bounds) and bounds[i] <= cum:
            out[i] = e["end"]
            i += 1
    return out


def _verify_sinks(spark, streams: Streams, manifests: dict[str, dict],
                  dropped: int) -> tuple[int, list[str], int]:
    """Output gate: rows per station and energy sums match the manifest, no
    (station_id, timestamp) key twice, nothing dropped by watermark.
    Returns (checks made, mismatches, sink rows)."""
    checks, problems, rows_out = 0, [], 0
    for d in DOMAINS:
        energy = gen.POWER_ENERGY[d][1]
        got = {r["station_id"]: r for r in
               spark.read.parquet(streams.sinks[d]).groupBy("station_id").agg(
                   F.count(F.lit(1)).alias("n"), F.countDistinct("timestamp").alias("keys"),
                   F.sum(energy).alias("e")).collect()}
        for sid, want in manifests[d]["per_station"].items():
            r = got.get(sid, {"n": 0, "keys": 0, "e": 0.0})
            rows_out += r["n"]
            checks += 3
            if r["n"] != want["rows"]:
                problems.append(f"{d} {sid}: {r['n']} sink rows, manifest {want['rows']}")
            if r["n"] != r["keys"]:
                problems.append(f"{d} {sid}: {r['n'] - r['keys']} (station_id, timestamp) "
                                "keys appear twice")
            if abs(r["e"] - want["energy_sum"]) > 1e-9 * abs(want["energy_sum"]):
                problems.append(f"{d} {sid}: energy {r['e']!r}, manifest {want['energy_sum']!r}")
    checks += 1
    want_dropped = sum(manifests[d]["rows_dropped_by_watermark"] for d in DOMAINS)
    if dropped != want_dropped:
        problems.append(f"rows_dropped_by_watermark {dropped}, manifest {want_dropped}")
    return checks, problems, rows_out


def _setup(ctx, warm_bodies: dict[str, str]):
    """Session start plus warm-up queries, repeated; the median is setup_s.
    The last session is kept for the timed phase."""
    times, spark, progress = [], None, None
    for i in range(ctx.setup_repeats):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        spark = ctx.session()
        progress = ProgressLog()
        spark.streams.addListener(progress)
        with ctx.tracer.span("setup.warmup_queries", trace=f"setup:{i}"):
            _warmup_once(spark, ctx.tracer, progress, ctx.tmp(f"warmup{i}"), warm_bodies)
        times.append(time.time() - t0)
    return spark, progress, times


def run_stream_workload(ctx, live: bool) -> dict:
    """Run ``live_ingest`` (``live=True``) or ``backfill_ingest``."""
    tracer = ctx.tracer
    per_file = LIVE_FILE_ROWS if live else BACKFILL_FILE_ROWS
    if live:
        n_files = int(round((ctx.seconds + LIVE_WARMIN_S) / LIVE_INTERVAL_S))
        n_unique = int(n_files * per_file / 1.02)
    else:
        n_unique = int(ctx.seconds * BACKFILL_ROWS_PER_S)
    data = {d: gen.generate(d, n_unique, ctx.seed, fmt="json") for d in DOMAINS}
    bodies = {d: gen.chunks(data[d].json_lines, per_file) for d in DOMAINS}
    bounds = {d: _cumulative(bodies[d]) for d in DOMAINS}
    warm = {d: gen.chunks(gen.generate(d, WARMUP_ROWS, ctx.seed + 1, fmt="json").json_lines,
                          WARMUP_ROWS)[0] for d in DOMAINS}
    ctx.sizes.update({f"{d}_lines": len(data[d].json_lines) for d in DOMAINS})
    ctx.sizes.update({f"{d}_files": len(bodies[d]) for d in DOMAINS})
    ctx.sizes["rows_per_file"] = per_file

    root = ctx.tmp("run")
    spark, progress, setup_times = _setup(ctx, warm)
    streams = Streams(spark, tracer, root, max_files=None if live else 1,
                      available_now=not live)
    if not live:
        for d in DOMAINS:        # the backlog exists before the queries start
            for i, body in enumerate(bodies[d]):
                write_file(root, streams.inputs[d], f"part-{i:05d}.json", body)
                time.sleep(0.002)   # distinct modification times keep file order

    with tracer.span("workload.timed", trace="timed") as timed:
        t_start = time.time()
        streams.start()
        ids = streams.ids()
        want = {ids[d]: bounds[d][-1] for d in DOMAINS}
        lateness, backlog_end = [], None
        if live:
            due = {d: [t_start + 0.5 + i * LIVE_INTERVAL_S for i in range(len(bodies[d]))]
                   for d in DOMAINS}
            for i in range(max(len(b) for b in bodies.values())):
                for d in DOMAINS:
                    if i >= len(bodies[d]):
                        continue
                    wait = due[d][i] - time.time()
                    if wait > 0:
                        time.sleep(wait)
                    written = write_file(root, streams.inputs[d], f"part-{i:05d}.json",
                                         bodies[d][i])
                    lateness.append(written - due[d][i])
            end_of_schedule = time.time()
            with progress.cond:
                pending = [due[d][i] for d in DOMAINS
                           for i, c in enumerate(_file_commits(progress.events.get(ids[d], []),
                                                               bounds[d])) if c is None]
            backlog_end = end_of_schedule - min(pending) if pending else 0.0
        else:
            due = {d: [t_start] * len(bodies[d]) for d in DOMAINS}
        progress.wait_rows(want, DRAIN_TIMEOUT_S + ctx.seconds)
        streams.stop()
    time.sleep(0.2)   # let the listener bus deliver the final events

    with progress.cond:
        errors = dict(progress.errors)
        events = {d: list(progress.events.get(ids[d], [])) for d in DOMAINS}
    # the live run's first files meet a query that is still warming up
    first_due = min(due[d][0] for d in DOMAINS) + (LIVE_WARMIN_S if live else 0.0)
    latencies, failed_files, last_commit, rows_measured = [], 0, first_due, 0
    for d in DOMAINS:
        for i, c in enumerate(_file_commits(events[d], bounds[d])):
            if c is None:
                failed_files += 1
            elif due[d][i] >= first_due:
                latencies.append(c - due[d][i])
                last_commit = max(last_commit, c)
                rows_measured += bounds[d][i] - (bounds[d][i - 1] if i else 0)
    stats = _batch_stats(progress, ids)
    failures = [f"{d} query failed: {errors[q].splitlines()[0]}"
                for d, q in ids.items() if q in errors]
    checks, mismatches, stats["streaming.job.rows_out"] = _verify_sinks(
        spark, streams, {d: data[d].manifest for d in DOMAINS},
        stats["streaming.job.rows_dropped_by_watermark"])
    failures += mismatches
    if tracer.enabled:
        _trace_batches(tracer, progress, ids, timed["id"] if timed else None)
        for d in DOMAINS:
            jobs, stages = tracer.jobs_in_group(str(streams.queries[d].runId))
            tracer.add("streaming.job.query", t_start, last_commit, timed["id"] if timed else None,
                       f"{d}:query", domain=d, jobs=jobs, stages=stages)
    spark.stop()

    n_batches = stats["streaming.job.batches"]
    ctx.attempted += n_batches + sum(len(bodies[d]) for d in DOMAINS) + checks
    ctx.failed += failed_files + len(failures)
    if failed_files:
        failures.append(f"{failed_files} input files never committed")
    ctx.problems += failures
    ctx.extra.update({
        "latency_samples": len(latencies),
        "generator_late_p50_s": quantile(lateness, 0.5) if lateness else 0.0,
        "generator_late_max_s": max(lateness) if lateness else 0.0,
        "ingest_backlog_end_s": backlog_end,
        "setup_runs_s": setup_times,
        "manifest": {d: data[d].manifest for d in DOMAINS},
    })
    ctx.layer_values.update(stats)
    return {
        "setup_s": quantile(setup_times, 0.5),
        "latency_p50_s": quantile(latencies, 0.5),
        "latency_p90_s": quantile(latencies, 0.9),
        "rows_per_s": rows_measured / max(last_commit - first_due, 1e-9),
    }


def _cumulative(bodies: list[str]) -> list[int]:
    out, total = [], 0
    for b in bodies:
        total += b.count("\n")
        out.append(total)
    return out
