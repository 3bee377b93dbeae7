"""Streaming tests (SURVEY.md §5.2-4): file-source replay of the
generated telemetry through the docx transform with availableNow
trigger; watermarked dedup behavior; stateful EWMA across micro-batches
vs a straight-Python fold."""

from __future__ import annotations

import datetime
import json
import time

import pytest

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_iot_data_pipeline_project_spark import schemas, session
from real_time_iot_data_pipeline_project_spark.streaming import job, stateful


@pytest.fixture(scope="module")
def wind_json_dir(spark, tmp_path_factory):
    """Raw wind rows as JSON-lines files (the Kafka value shape)."""
    from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw

    d = tmp_path_factory.mktemp("wind_json")
    raw = generate_wind_raw(spark, n_rows=300)
    raw.select(F.to_json(F.struct(*raw.columns)).alias("value")).coalesce(2).write.mode(
        "overwrite"
    ).text(str(d))
    return str(d)


def test_stream_transform_end_to_end(spark, wind_json_dir, tmp_path):
    raw = (
        spark.readStream.schema(T.StructType([T.StructField("value", T.StringType())]))
        .text(wind_json_dir)
    )
    parsed = job.parse_json_stream(raw, schemas.WIND_RAW_SCHEMA)
    out = job.wind_stream_transform(parsed)
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = job.start_parquet_sink(out, sink, ckpt, available_now=True)
    q.awaitTermination(120)

    result = spark.read.parquet(sink)
    assert result.count() > 0
    # derived columns present
    for c in ["local_timestamp", "hour", "day_of_week", "time_of_day",
              "wind_power_density", "is_valid"]:
        assert c in result.columns
    # cleaning applied
    assert result.filter((F.col("wind_speed_mps") < 0) | (F.col("wind_speed_mps") > 60)).count() == 0
    assert result.filter(F.col("air_pressure_hPa").isNull()).count() == 0
    # dedup applied within watermark
    dupes = result.groupBy("station_id", "timestamp").count().filter("count > 1")
    assert dupes.count() == 0
    # exactly-once restart: rerunning with same checkpoint adds nothing
    n1 = result.count()
    q2 = job.start_parquet_sink(out, sink, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n1


VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


def _offset_log_partitions(ckpt) -> int:
    """``spark.sql.shuffle.partitions`` recorded in the checkpoint's
    latest offset-log entry (line 2 is the batch metadata JSON)."""
    latest = max((ckpt / "offsets").iterdir(), key=lambda f: int(f.name)
                 if f.name.isdigit() else -1)
    meta = json.loads(latest.read_text().splitlines()[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def test_checkpoint_file_manager_class_loads(spark):
    """The checkpoint manager the session names is a loadable
    CheckpointFileManager. Spark moved these classes between packages
    once; an upgrade that moves them again fails here, not at every
    stream start."""
    name = spark.conf.get(CHECKPOINT_MANAGER_CONF)
    assert name == session.CHECKPOINT_FILE_MANAGER
    load = spark._jvm.java.lang.Class.forName
    assert load(name).getName() == name
    base = name.rsplit(".", 1)[0] + ".CheckpointFileManager"
    assert load(base).isAssignableFrom(load(name))


@pytest.mark.parametrize("checkpoint", ["old", "fresh", "filecontext"])
def test_parquet_sink_restart_keeps_checkpoint_state_partitions(spark, tmp_path, checkpoint):
    """Stop after the first file, add a second that replays readings of
    the first inside the watermark, restart through start_parquet_sink.
    An old checkpoint (written with the session's own count, as before
    STATE_PARTITIONS) keeps its count; a fresh one gets the constant; a
    "filecontext" one is fresh but written through Spark's FileContext-based
    checkpoint manager (the default before the session named the
    FileSystem-based one) and restarted under the session's. In every case
    batch ids continue, no temporary file is left in the checkpoint or the
    sink's metadata log, and the sink equals the batch transform of all
    input with no key twice."""
    from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw

    raw = generate_wind_raw(spark, n_rows=300)   # 100 readings per station, 495 s
    lines = [r.value for r in raw.select(F.to_json(F.struct(*raw.columns)).alias("value"))
             .orderBy("value").collect()]
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()
    (src / "part-0.json").write_text("\n".join(lines[:200]) + "\n")
    out = job.wind_stream_transform(
        job.parse_json_stream(spark.readStream.schema(VALUE_SCHEMA).text(str(src)),
                              schemas.WIND_RAW_SCHEMA))
    session_count = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert session_count != job.STATE_PARTITIONS
    want = session_count if checkpoint == "old" else job.STATE_PARTITIONS

    if checkpoint == "old":
        q = (out.writeStream.format("parquet").option("path", str(sink))
             .option("checkpointLocation", str(ckpt)).outputMode("append")
             .partitionBy("station_id").start())
    else:
        manager = spark.conf.get(CHECKPOINT_MANAGER_CONF)
        if checkpoint == "filecontext":
            spark.conf.set(CHECKPOINT_MANAGER_CONF, manager.replace(
                "FileSystemBased", "FileContextBased"))
        try:
            q = job.start_parquet_sink(out, str(sink), str(ckpt))
        finally:
            spark.conf.set(CHECKPOINT_MANAGER_CONF, manager)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == session_count
    try:
        q.processAllAvailable()
        mine = next(s for s in job.active_stream_status(spark) if s["id"] == str(q.id))
        assert mine["state_partitions"] == want
        assert mine["state_rows"] > 0 and mine["watermark"]
    finally:
        q.stop()
    committed = lambda: sorted(int(f.name) for f in (ckpt / "commits").iterdir()  # noqa: E731
                               if f.name.isdigit())
    first = committed()
    assert first == list(range(len(first))) and first

    (src / "part-1.json").write_text("\n".join(lines[150:]) + "\n")
    q2 = job.start_parquet_sink(out, str(sink), str(ckpt), available_now=True)
    q2.awaitTermination(120)
    assert q2.exception() is None

    restarted = [p["batchId"] for p in q2.recentProgress if p["numInputRows"]]
    assert restarted and min(restarted) >= len(first)
    after = committed()   # may end in a no-data batch that moved the watermark
    assert after == list(range(len(after))) and max(restarted) in after
    for d in (ckpt / "offsets", ckpt / "commits", ckpt / "sources", ckpt / "state",
              sink / "_spark_metadata"):
        assert d.is_dir() and not list(d.rglob("*.tmp")), d
    assert _offset_log_partitions(ckpt) == want
    assert sorted(int(d.name) for d in (ckpt / "state" / "0").iterdir()
                  if d.name.isdigit()) == list(range(want))
    expected = job.stream_transform(
        job.parse_json_stream(spark.read.schema(VALUE_SCHEMA).text(str(src)),
                              schemas.WIND_RAW_SCHEMA), "wind", watermark=None)
    got = spark.read.parquet(str(sink)).select(*expected.columns).collect()
    keys = [(r["station_id"], r["timestamp"]) for r in got]
    assert len(keys) == len(set(keys))
    by_key = lambda r: (r["station_id"], r["timestamp"])  # noqa: E731
    assert sorted(got, key=by_key) == sorted(expected.collect(), key=by_key)


def test_parquet_sink_restores_session_conf_when_start_raises(spark, wind_json_dir, tmp_path):
    """The state-partition count is set on the shared session only while
    start() runs, also when start() raises (the restart test above checks
    a start that returns)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(job.STATE_PARTITIONS)
    out = job.wind_stream_transform(
        job.parse_json_stream(spark.readStream.schema(VALUE_SCHEMA).text(wind_json_dir),
                              schemas.WIND_RAW_SCHEMA))
    blocker = tmp_path / "a_file"
    blocker.write_text("")
    with pytest.raises(Py4JJavaError, match=r"\.start"):
        job.start_parquet_sink(out, str(tmp_path / "sink"), str(blocker / "ckpt"),
                               available_now=True)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _has_protobuf() -> bool:
    # transformWithState's Python driver worker speaks protobuf to the
    # JVM state server; without the package the query crashes at init
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.parametrize(
    "api",
    [
        "applyInPandasWithState",
        pytest.param(
            "transformWithState",
            marks=pytest.mark.skipif(
                not _has_protobuf(),
                reason="transformWithState needs the protobuf package (not in this env)",
            ),
        ),
    ],
)
def test_streaming_ewma_matches_python_fold(spark, tmp_path, api):
    alpha = 0.35
    rows = [
        ("A", "2025-01-01 00:00:%02d" % i, float(v))
        for i, v in enumerate([10, 20, 30, 40, 50])
    ] + [
        ("B", "2025-01-01 00:00:%02d" % i, float(v))
        for i, v in enumerate([100, 0, 100, 0])
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ["station_id", "ts_s", "value"]).select(
        F.to_json(F.struct("station_id", "ts_s", "value")).alias("value")
    ).coalesce(1).write.text(src)

    schema = T.StructType(
        [
            T.StructField("station_id", T.StringType()),
            T.StructField("ts_s", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    parsed = job.parse_json_stream(raw, schema).withColumn("ts", F.to_timestamp("ts_s"))
    if api == "transformWithState":
        # transformWithState requires the RocksDB state store provider
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        sm = stateful.ewma_stream_tws(parsed, "station_id", "ts", "value", alpha=alpha)
    else:
        sm = stateful.ewma_stream(parsed, "station_id", "ts", "value", alpha=alpha)
    name = f"ewma_out_{api[:8]}"
    try:
        q = (
            sm.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    finally:
        if api == "transformWithState":
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {
        (r.station_id, r.ts.second): r.smoothed
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    # python fold oracle (producer_wind.py:218-228 semantics)
    def fold(vals):
        out, last = [], None
        for v in vals:
            last = v if last is None else alpha * v + (1 - alpha) * last
            out.append(last)
        return out

    for sid, vals in [("A", [10, 20, 30, 40, 50]), ("B", [100, 0, 100, 0])]:
        exp = fold([float(v) for v in vals])
        for i, e in enumerate(exp):
            assert abs(got[(sid, i)] - e) < 1e-9, (sid, i)


def test_console_sink_and_stream_monitoring(spark, tmp_path):
    """S12 (console debug sink) + S13 (spark.streams.active status)."""
    rows = [("S1", 1.0), ("S2", 2.0)]
    src = str(tmp_path / "console_src")
    spark.createDataFrame(rows, ["station_id", "v"]).select(
        F.to_json(F.struct("*")).alias("value")
    ).coalesce(1).write.text(src)
    schema = T.StructType(
        [T.StructField("station_id", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    q = job.start_console_sink(job.parse_json_stream(raw, schema))
    try:
        statuses = job.active_stream_status(spark)
        assert any(s["id"] == str(q.id) for s in statuses)
        mine = next(s for s in statuses if s["id"] == str(q.id))
        assert mine["is_active"] and "message" in (mine["status"] or {})
        q.processAllAvailable()  # console batch printed without error
        mine = next(s for s in job.active_stream_status(spark) if s["id"] == str(q.id))
        assert set(mine["phase_ms"]) == {"latestOffset", "walCommit", "queryPlanning",
                                         "addBatch", "commitOffsets", "triggerExecution"}
        assert all(v >= 0 for v in mine["phase_ms"].values()), mine["phase_ms"]
    finally:
        q.stop()
    assert all(s["id"] != str(q.id) for s in job.active_stream_status(spark))


def test_update_mode_grouped_agg_across_batches(spark, tmp_path):
    """T7 — outputMode('update'): only changed groups re-emit, and the
    memory sink shows the updated aggregate after a second micro-batch."""
    src = str(tmp_path / "upd_src")
    schema = T.StructType(
        [T.StructField("station_id", T.StringType()), T.StructField("v", T.DoubleType())]
    )

    def write_batch(rows, fname):
        spark.createDataFrame(rows, schema).select(
            F.to_json(F.struct("*")).alias("value")
        ).coalesce(1).write.mode("append").text(src)

    write_batch([("A", 10.0), ("B", 5.0)], "b1")
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    parsed = job.parse_json_stream(raw, schema)
    q = job.start_grouped_agg_stream(
        parsed, ["station_id"],
        [F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")],
        query_name="upd_agg",
    )
    try:
        q.processAllAvailable()
        first = {r.station_id: r.total for r in spark.sql("SELECT * FROM upd_agg").collect()}
        assert first == {"A": 10.0, "B": 5.0}
        # second micro-batch touches only A → update emits A's new total
        write_batch([("A", 7.0)], "b2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM upd_agg").collect()
        latest = {}
        for r in rows:  # memory sink appends update rows; last write wins
            latest[r.station_id] = r.total
        assert latest["A"] == 17.0 and latest["B"] == 5.0
        # B was NOT re-emitted in batch 2: exactly one B row total
        assert sum(1 for r in rows if r.station_id == "B") == 1
    finally:
        q.stop()


def test_streaming_session_windows_emit_on_watermark(spark, tmp_path):
    """T4 streaming: session windows + watermark in append mode — a
    closed session is emitted once the watermark passes its end."""
    src = str(tmp_path / "sess_src")
    schema = T.StructType(
        [T.StructField("user_id", T.StringType()), T.StructField("ts_s", T.StringType())]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).select(
            F.to_json(F.struct("*")).alias("value")
        ).coalesce(1).write.mode("append").text(src)

    # batch 1: one session for u (2 events, 5 min apart)
    write_batch([("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:05:00")])
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    ev = job.parse_json_stream(raw, schema).withColumn("ts", F.to_timestamp("ts_s"))
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (agg.writeStream.format("memory").queryName("sessions")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # session still open: watermark hasn't passed its end yet
        assert spark.sql("SELECT * FROM sessions").count() == 0
        # batch 2: event 3 hours later pushes the watermark past session 1
        write_batch([("u", "2024-01-01 03:00:00")])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sessions").collect()
        assert len(rows) == 1 and rows[0].n == 2
        assert rows[0].session_window.start.minute == 0
    finally:
        q.stop()


def test_foreach_batch_snapshot_serving(spark, tmp_path):
    """foreachBatch + complete-mode agg = live serving snapshot: after a
    second micro-batch the parquet reflects the updated totals."""
    src = str(tmp_path / "fb_src")
    snap = str(tmp_path / "fb_snap")
    schema = T.StructType(
        [T.StructField("station_id", T.StringType()), T.StructField("v", T.DoubleType())]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).select(
            F.to_json(F.struct("*")).alias("value")
        ).coalesce(1).write.mode("append").text(src)

    write_batch([("A", 1.0), ("B", 2.0)])
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    agg = job.parse_json_stream(raw, schema).groupBy("station_id").agg(
        F.sum("v").alias("total")
    )
    q = job.start_foreach_batch_sink(
        agg, job.latest_snapshot_writer(snap), output_mode="complete"
    )
    try:
        q.processAllAvailable()
        snap1 = {r.station_id: r.total for r in spark.read.parquet(snap).collect()}
        assert snap1 == {"A": 1.0, "B": 2.0}
        write_batch([("A", 4.0)])
        q.processAllAvailable()
        snap2 = {r.station_id: r.total for r in spark.read.parquet(snap).collect()}
        assert snap2 == {"A": 5.0, "B": 2.0}
    finally:
        q.stop()


def test_alert_stream(spark, tmp_path):
    rows = [("S1", 100.0, 500.0), ("S2", 900.0, 600.0), ("S3", 50.0, 0.0)]
    src = str(tmp_path / "alerts_src")
    spark.createDataFrame(rows, ["station_id", "power_kW", "solar_irradiance_Wm2"]).select(
        F.to_json(F.struct("*")).alias("value")
    ).coalesce(1).write.text(src)
    schema = T.StructType(
        [
            T.StructField("station_id", T.StringType()),
            T.StructField("power_kW", T.DoubleType()),
            T.StructField("solar_irradiance_Wm2", T.DoubleType()),
        ]
    )
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    parsed = job.parse_json_stream(raw, schema)
    q = job.start_alert_stream(
        parsed, "power_kW", threshold=500.0, require_positive_col="solar_irradiance_Wm2"
    )
    q.processAllAvailable()
    q.stop()
    alerts = spark.sql("SELECT station_id FROM alerts").collect()
    # S1: low power + positive irradiance → alert; S2 power ok; S3 irr=0 (night) → no alert
    assert [r.station_id for r in alerts] == ["S1"]


# ---------------------------------------------------- streaming curation

def test_streaming_curation_dedup_and_annotation(spark, tmp_path):
    """File-source doc stream → watermarked fingerprint dedup →
    batch-identical annotation → partitioned parquet; replay is a
    no-op (exactly-once)."""
    import json as _json

    from real_time_iot_data_pipeline_project_spark.functions import textfns
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    src = tmp_path / "docs_in"
    src.mkdir()
    rows1 = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog " * 4,
         "lang": "en", "source": "s1", "event_time": "2026-01-01T10:00:00"},
        {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog " * 4,
         "lang": "en", "source": "s2", "event_time": "2026-01-01T10:01:00"},  # dup text
        {"doc_id": 3, "text": "xq zt vv",  # low quality -> filtered
         "lang": "en", "source": "s1", "event_time": "2026-01-01T10:02:00"},
    ]
    rows2 = [
        {"doc_id": 4, "text": "a genuinely different document that is about the "
         "weather and it is quite long for the test " * 3,
         "lang": "en", "source": "s3", "event_time": "2026-01-01T10:05:00"},
        # high quality but German -> dropped by the langs allowlist
        {"doc_id": 5, "text": "der hund und die katze sind in dem haus und "
         "das wetter ist heute sehr schoen mit der sonne " * 3,
         "lang": "de", "source": "s3", "event_time": "2026-01-01T10:06:00"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))

    sink = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    stream = curation.read_doc_stream(spark, str(src))
    q = curation.start_corpus_sink(
        curation.curate_stream(stream, langs=("en",)), sink, ckpt,
        available_now=True
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    kept = {r.doc_id: r for r in out.collect()}
    # duplicate text deduped (first arrival wins), low-quality filtered,
    # non-allowlisted language (doc 5, German) filtered
    assert set(kept) == {1, 4}
    # annotation identical to the batch expressions
    batch = spark.createDataFrame(
        [(1, rows1[0]["text"])], "doc_id long, text string"
    ).select(
        textfns.quality_score("text").alias("q"),
        textfns.detect_language("text").alias("lang"),
    ).collect()[0]
    assert kept[1].q == batch.q and kept[1].detected_lang == batch.lang
    # partitioned layout for pruning
    assert (tmp_path / "corpus" / "ingest_date=2026-01-01").exists()

    # replay from the same checkpoint: exactly-once, nothing re-appended
    q2 = curation.start_corpus_sink(
        curation.curate_stream(curation.read_doc_stream(spark, str(src)),
                               langs=("en",)),
        sink, ckpt, available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 2


def test_streaming_near_dedup_across_batches(spark, tmp_path):
    """Cross-batch NEAR-dup: a batch-2 one-word edit of a batch-1 doc is
    dropped by the signature-store probe; oracle = batch LSH over the
    union of both batches."""
    import json as _json

    from real_time_iot_data_pipeline_project_spark.operators import dedup
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    base_text = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the green hills " * 3)
    other = ("a clearly different document that talks about the weather "
             "and the seasons at considerable length for the test " * 2)
    near_dup = base_text.replace("lazy dog", "lazy hound")
    fresh = ("another genuinely new document describing checkpointed "
             "streaming state stores and watermark eviction rules " * 2)
    rows1 = [
        {"doc_id": 1, "text": base_text, "lang": "en", "source": "s1",
         "event_time": "2026-01-01T10:00:00"},
        {"doc_id": 2, "text": other, "lang": "en", "source": "s1",
         "event_time": "2026-01-01T10:01:00"},
    ]
    rows2 = [
        {"doc_id": 3, "text": near_dup, "lang": "en", "source": "s2",
         "event_time": "2026-01-01T10:05:00"},
        {"doc_id": 4, "text": fresh, "lang": "en", "source": "s2",
         "event_time": "2026-01-01T10:06:00"},
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))

    sink = str(tmp_path / "corpus")
    sig_store = str(tmp_path / "sigs")
    q = curation.start_near_dedup_corpus_sink(
        curation.read_doc_stream(spark, str(src)),
        sink, str(tmp_path / "ckpt"), sig_store,
        threshold=0.7, available_now=True,
    )
    q.awaitTermination(120)

    written = {r.doc_id for r in spark.read.parquet(sink).collect()}
    assert written == {1, 2, 4}

    # oracle: batch LSH over the union finds exactly the (1, 3) pair
    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows1 + rows2],
        ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b)
             for r in dedup.minhash_lsh_candidates(union).collect()
             if r.est_jaccard >= 0.7}
    assert pairs == {(1, 3)}
    expected_drops = {b for (a, b) in pairs}
    assert written == {r["doc_id"] for r in rows1 + rows2} - expected_drops

    # the signature store holds exactly the written docs' signatures,
    # and the band table holds exactly their precomputed LSH buckets
    sigs = spark.read.parquet(f"{sig_store}/sigs")
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == written
    bands = spark.read.parquet(f"{sig_store}/bands")
    assert {r.doc_id for r in bands.select("doc_id").collect()} == written


def test_near_dedup_sink_crash_replay_idempotent(spark, tmp_path):
    """Exactly-once: a crash anywhere between the three per-batch writes
    (corpus, signatures, band rows) followed by a checkpoint replay of
    the SAME batch_id must converge — no duplicate rows in any sink."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta " * 5, "en", "s1",
          datetime.datetime(2026, 1, 1, 10, 0, 0)),
         (2, "one two three four five six seven eight nine ten " * 4,
          "en", "s1", datetime.datetime(2026, 1, 1, 10, 1, 0))],
        "doc_id long, text string, lang string, source string, event_time timestamp",
    )
    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "sigs")

    curation.process_corpus_batch(docs, 0, corpus, store)
    baseline = sorted(
        tuple(r) for r in spark.read.parquet(corpus).select("doc_id").collect())
    sig_baseline = spark.read.parquet(f"{store}/sigs").count()

    # crash between corpus write and store writes: store dirs for batch 0
    # never landed — replay must fill them in without duplicating corpus
    shutil.rmtree(f"{store}/sigs/batch_id=0")
    shutil.rmtree(f"{store}/bands/batch_id=0")
    curation.process_corpus_batch(docs, 0, corpus, store)
    assert sorted(tuple(r) for r in
                  spark.read.parquet(corpus).select("doc_id").collect()) == baseline
    assert spark.read.parquet(f"{store}/sigs").count() == sig_baseline

    # full replay after a completed batch: still no duplicates anywhere
    curation.process_corpus_batch(docs, 0, corpus, store)
    assert sorted(tuple(r) for r in
                  spark.read.parquet(corpus).select("doc_id").collect()) == baseline
    assert spark.read.parquet(f"{store}/sigs").count() == sig_baseline
    assert spark.read.parquet(f"{store}/bands").select("doc_id").distinct().count() == 2


def test_compact_corpus_closes_watermark_gap(spark, tmp_path):
    """Duplicates farther apart than the watermark both land in the
    streaming sink; the periodic batch compaction removes them with the
    batch min-id winner policy and reports the rate."""
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    dup = "the very same document text that escaped the watermark " * 3
    rows = [(1, dup, "en", "s1", datetime.datetime(2026, 1, 1, 0, 0)),
            (2, "completely different content about something else " * 3,
             "en", "s1", datetime.datetime(2026, 1, 1, 6, 0)),
            (3, dup, "en", "s2", datetime.datetime(2026, 1, 2, 9, 0))]
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, event_time timestamp",
    ).write.parquet(corpus)

    out = str(tmp_path / "compacted")
    stats = curation.compact_corpus(spark, corpus, out)
    assert stats == {"rows_before": 3, "rows_after": 2,
                     "duplicates_removed": 1}
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2}  # min-id winner, same policy as batch dedup


def test_compact_cli(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark import pipelines

    src = str(tmp_path / "c")
    spark.createDataFrame(
        [(1, "aaa bbb ccc " * 4), (2, "aaa bbb ccc " * 4)],
        "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "o")
    pipelines.main(["compact", src, "--output", out])
    assert spark.read.parquet(out).count() == 1


def test_compaction_under_live_stream_loop(spark, tmp_path):
    """The full operational loop the compact_corpus docstring promises,
    driven through the REAL stream (not a synthesized corpus): stream
    batches whose exact duplicates straddle the watermark horizon →
    compact → stream more → compact again. Invariants: every distinct
    gate-passing fingerprint survives each compaction (no survivor
    loss), duplicate content appears exactly once per snapshot with a
    stable min-id winner (no duplicate revival), and the live sink keeps
    appending untouched (compaction is out-of-place)."""
    import json as _json

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    dup = ("the very same long document text that keeps escaping the "
           "stream watermark horizon again and again " * 3)
    texts = {
        1: dup,
        2: "a different document about turbine maintenance schedules " * 3,
        3: "filler content that advances the watermark forward nicely " * 3,
        4: dup,
        5: "fresh post-compaction document about sensor calibration " * 3,
        6: "another watermark-advancing filler describing data lakes " * 3,
        7: dup,
        8: "late fresh document about checkpoint recovery procedures " * 3,
    }
    times = {1: "2026-01-01T00:00:00", 2: "2026-01-01T00:01:00",
             3: "2026-01-01T06:00:00", 4: "2026-01-01T12:00:00",
             5: "2026-01-01T12:01:00", 6: "2026-01-01T18:00:00",
             7: "2026-01-01T23:50:00", 8: "2026-01-01T23:55:00"}

    src = tmp_path / "in"
    src.mkdir()
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_files(name, ids):
        (src / name).write_text("\n".join(
            _json.dumps({"doc_id": i, "text": texts[i], "lang": "en",
                         "source": "s", "event_time": times[i]})
            for i in ids))
        q = curation.start_corpus_sink(
            curation.curate_stream(curation.read_doc_stream(spark, str(src))),
            sink, ckpt, available_now=True)
        q.awaitTermination(120)

    # three triggers: dup at t0; watermark-advancer at +6h (evicts the
    # dedup state); the SAME text again at +12h -> lands (horizon gap)
    run_files("b1.json", [1, 2])
    run_files("b2.json", [3])
    run_files("b3.json", [4, 5])
    sunk = spark.read.parquet(sink)
    assert {r.doc_id for r in sunk.collect()} == {1, 2, 3, 4, 5}
    assert sunk.filter(F.col("text") == dup).count() == 2  # the gap is real

    v1 = str(tmp_path / "v1")
    stats1 = curation.compact_corpus(spark, sink, v1)
    assert stats1["duplicates_removed"] == 1
    v1_rows = spark.read.parquet(v1)
    assert {r.doc_id for r in v1_rows.collect()} == {1, 2, 3, 5}
    assert {r.doc_id for r in v1_rows.filter(F.col("text") == dup).collect()} == {1}

    # the stream continues against the SAME checkpoint after the swap
    run_files("b4.json", [6])
    run_files("b5.json", [7, 8])
    assert spark.read.parquet(sink).filter(F.col("text") == dup).count() == 3

    v2 = str(tmp_path / "v2")
    curation.compact_corpus(spark, sink, v2)
    v2_rows = spark.read.parquet(v2)
    assert {r.doc_id for r in v2_rows.collect()} == {1, 2, 3, 5, 6, 8}
    # no survivor loss: every distinct fingerprint once; stable winner
    assert v2_rows.select("fingerprint").distinct().count() == v2_rows.count()
    assert {r.doc_id for r in v2_rows.filter(F.col("text") == dup).collect()} == {1}


def test_signature_store_compaction_preserves_decisions(spark, tmp_path):
    """Store lifecycle (VERDICT r5 item 7): compacting the signature
    store to corpus survivors is decision-preserving — a replayed
    increment probed against the compacted store produces the identical
    survivor set — and after a retention delete the store mirrors the
    corpus (near-dups of removed content re-admit, by design)."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the green rolling hills beyond " * 3)
    other = ("an unrelated treatise on the seasons and the weather in "
             "coastal regions written at considerable length " * 3)
    schema = ("doc_id long, text string, lang string, source string, "
              "event_time timestamp")
    b0 = spark.createDataFrame(
        [(1, base, "en", "s", datetime.datetime(2026, 1, 1, 10, 0)),
         (2, other, "en", "s", datetime.datetime(2026, 1, 1, 10, 1))], schema)
    b1 = spark.createDataFrame(
        [(3, "a genuinely new document describing stateful stream "
             "processing and watermark eviction rules in detail " * 3,
          "en", "s", datetime.datetime(2026, 1, 1, 11, 0))], schema)
    corpus, store = str(tmp_path / "corpus"), str(tmp_path / "store")
    curation.process_corpus_batch(b0, 0, corpus, store)
    curation.process_corpus_batch(b1, 1, corpus, store)

    # compact the store against the live corpus (nothing removed):
    # content identical, batch_id layout preserved
    cstore = str(tmp_path / "store_c")
    stats = curation.compact_signature_store(spark, corpus, store, cstore)
    assert stats["sigs_before"] == stats["sigs_after"] == 3
    assert (tmp_path / "store_c" / "sigs" / "batch_id=0").exists()
    assert (tmp_path / "store_c" / "bands" / "batch_id=1").exists()

    # identical dedup decisions on a replayed increment: a near-dup of
    # doc 1 and a fresh doc, probed against original vs compacted store
    inc = spark.createDataFrame(
        [(4, base.replace("lazy dog", "lazy hound"), "en", "s",
          datetime.datetime(2026, 1, 1, 12, 0)),
         (5, "completely novel text about parquet footer statistics "
             "and column pruning at scan time for analytics " * 3,
          "en", "s", datetime.datetime(2026, 1, 1, 12, 1))], schema)
    c_a, c_b = str(tmp_path / "ca"), str(tmp_path / "cb")
    store_a, store_b = str(tmp_path / "sa"), str(tmp_path / "sb")
    shutil.copytree(store, store_a)
    shutil.copytree(cstore, store_b)
    curation.process_corpus_batch(inc, 7, c_a, store_a)
    curation.process_corpus_batch(inc, 7, c_b, store_b)
    got_a = {r.doc_id for r in spark.read.parquet(c_a).collect()}
    got_b = {r.doc_id for r in spark.read.parquet(c_b).collect()}
    assert got_a == got_b == {5}  # near-dup 4 dropped in BOTH worlds

    # retention delete: batch 0 leaves the corpus; compaction aligns the
    # store, so a near-dup of the REMOVED doc 1 is now re-admitted
    shutil.rmtree(f"{corpus}/batch_id=0")
    rstore = str(tmp_path / "store_r")
    stats2 = curation.compact_signature_store(spark, corpus, store, rstore)
    assert stats2["sigs_after"] == 1  # only doc 3 remains
    c_r = str(tmp_path / "cr")
    curation.process_corpus_batch(inc, 9, c_r, rstore)
    assert {r.doc_id for r in spark.read.parquet(c_r).collect()} == {4, 5}


def test_compact_store_cli(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark import pipelines
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4, "en",
          "s", datetime.datetime(2026, 1, 1, 10, 0)),
         (2, "one two three four five six seven eight nine ten " * 4,
          "en", "s", datetime.datetime(2026, 1, 1, 10, 1))],
        "doc_id long, text string, lang string, source string, "
        "event_time timestamp")
    corpus, store = str(tmp_path / "c"), str(tmp_path / "s")
    curation.process_corpus_batch(docs, 0, corpus, store)
    out = str(tmp_path / "sc")
    pipelines.main(["compact-store", corpus, "--store", store,
                    "--output", out])
    assert spark.read.parquet(f"{out}/sigs").count() == 2


def test_compaction_guards(spark, tmp_path):
    """Review regressions: in-place compaction and store compaction
    against a missing corpus are refused; all-pruned store tables
    report zero instead of crashing the read-back."""
    import pytest

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 4, "en",
          "s", datetime.datetime(2026, 1, 1, 10, 0))],
        "doc_id long, text string, lang string, source string, "
        "event_time timestamp")
    corpus, store = str(tmp_path / "c"), str(tmp_path / "s")
    curation.process_corpus_batch(docs, 0, corpus, store)

    with pytest.raises(ValueError, match="out-of-place"):
        curation.compact_corpus(spark, corpus, corpus)
    with pytest.raises(ValueError, match="differ from the signature store"):
        curation.compact_signature_store(spark, corpus, store, store)
    with pytest.raises(ValueError, match="missing or empty"):
        curation.compact_signature_store(
            spark, str(tmp_path / "nope"), store, str(tmp_path / "out"))

    # corpus rotated to docs the store has never seen: every signature
    # prunes away -> zero counts, no schema-inference crash
    other = str(tmp_path / "other_corpus")
    spark.createDataFrame([(99,)], "doc_id long").write.parquet(other)
    stats = curation.compact_signature_store(
        spark, other, store, str(tmp_path / "empty_out"))
    assert stats["sigs_after"] == 0 and stats["bands_after"] == 0


def test_adaptive_alert_stream_matches_python_fold(spark, tmp_path):
    """Streaming adaptive alerts: EW mean/variance baseline replayed by
    a Python fold oracle across TWO micro-batch runs (state persists in
    the checkpoint); warm-up rows never alert; a planted spike after
    warm-up does."""
    alpha, k, min_obs = 0.3, 2.5, 3
    vals_a = [10.0, 10.5, 9.8, 10.2, 10.1, 50.0, 10.0]  # spike at idx 5
    vals_b = [5.0, 5.1]                                  # stays cold
    batch1 = [("A", i, v) for i, v in enumerate(vals_a[:4])] + \
             [("B", i, v) for i, v in enumerate(vals_b)]
    batch2 = [("A", i + 4, v) for i, v in enumerate(vals_a[4:])]

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([
        T.StructField("station_id", T.StringType()),
        T.StructField("ts_s", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])

    sink = str(tmp_path / "alerts_out")

    def run(batch):
        rows = [(s, "2025-01-01 00:00:%02d" % i, v) for (s, i, v) in batch]
        spark.createDataFrame(rows, ["station_id", "ts_s", "value"]).select(
            F.to_json(F.struct("station_id", "ts_s", "value")).alias("value")
        ).coalesce(1).write.mode("append").text(src)
        raw = spark.readStream.schema(
            T.StructType([T.StructField("value", T.StringType())])).text(src)
        parsed = (job.parse_json_stream(raw, schema)
                  .withColumn("ts", F.to_timestamp("ts_s")))
        alerts = stateful.adaptive_alert_stream(
            parsed, "station_id", "ts", "value",
            alpha=alpha, k=k, min_obs=min_obs)
        # parquet sink: supports checkpoint recovery, so the second run
        # resumes the SAME query and the GroupState persists across runs
        q = (alerts.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r.station_id, r.ts.second): r
                for r in spark.read.parquet(sink).collect()}

    run(batch1)
    got = run(batch2)

    # python fold oracle: same EW-Welford update, pre-update flagging
    import math

    def fold(vals):
        mean, var, n, out = None, 0.0, 0, []
        for v in vals:
            if mean is None:
                mean, var, n = v, 0.0, 1
                out.append((mean, 0.0, None, False))
                continue
            std = math.sqrt(var) if var > 0 else 0.0
            z = (v - mean) / std if std > 0 else None
            out.append((mean, std, z,
                        bool(n >= min_obs and z is not None and abs(z) > k)))
            diff = v - mean
            incr = alpha * diff
            mean += incr
            var = (1 - alpha) * (var + diff * incr)
            n += 1
        return out

    for sid, vals in [("A", vals_a), ("B", vals_b)]:
        for i, (m, s, z, flag) in enumerate(fold(vals)):
            r = got[(sid, i)]
            assert abs(r.baseline_mean - m) < 1e-9, (sid, i)
            assert abs(r.baseline_std - s) < 1e-9, (sid, i)
            if z is None:
                assert r.zscore is None, (sid, i)
            else:
                assert abs(r.zscore - z) < 1e-9, (sid, i)
            assert r.is_anomaly == flag, (sid, i)

    # the planted spike is the ONLY alert
    alerts = [(sid, sec) for (sid, sec), r in got.items() if r.is_anomaly]
    assert alerts == [("A", 5)]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (attribution shape):
    the streamed result must equal the batch interval join of the same
    data (the batch-equivalence oracle), including the window edges —
    a purchase exactly at click_ts + within matches, one second later
    does not, and matching never crosses user_id."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def t(s):
        return base + dt.timedelta(seconds=s)

    clicks = [
        (1, t(0), "c1"),
        (1, t(500), "c2"),
        (2, t(0), "c3"),
    ]
    purchases = [
        (1, t(100), "p1"),     # in c1's window only
        (1, t(300), "p2"),     # exactly at c1 + within -> inclusive match
        (1, t(301), "p3"),     # 1s past c1's window; before c2 -> no match
        (1, t(650), "p4"),     # in c2's window
        (2, t(1000), "p5"),    # outside every window for user 2
    ]
    schema = "user_id long, ts timestamp, tag string"
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    spark.createDataFrame(clicks, schema).write.parquet(cdir)
    spark.createDataFrame(purchases, schema).write.parquet(pdir)

    within = 300
    lstream = spark.readStream.schema(schema).parquet(cdir)
    rstream = spark.readStream.schema(schema).parquet(pdir)
    joined = job.join_streams_interval(
        lstream, rstream, key="user_id", ts_col="ts",
        within_seconds=within, watermark="5 minutes")
    sink = str(tmp_path / "joined")
    q = (joined.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["tag_l"], r["tag_r"])
           for r in spark.read.parquet(sink).collect()}
    assert got == {("c1", "p1"), ("c1", "p2"), ("c2", "p4")}

    # batch-equivalence oracle: same callable on batch DataFrames
    batch = job.join_streams_interval(
        spark.read.parquet(cdir), spark.read.parquet(pdir),
        key="user_id", ts_col="ts", within_seconds=within)
    assert {(r["tag_l"], r["tag_r"]) for r in batch.collect()} == got


def test_stream_stream_join_state_is_bounded(spark, tmp_path):
    """The physical plan must carry watermarks on both sides and a
    time-interval join condition — the two ingredients Spark needs to
    evict join state instead of buffering both streams forever."""
    schema = "user_id long, ts timestamp, tag string"
    d = str(tmp_path / "src")
    spark.createDataFrame([], schema).write.parquet(d)
    s1 = spark.readStream.schema(schema).parquet(d)
    s2 = spark.readStream.schema(schema).parquet(d)
    joined = job.join_streams_interval(
        s1, s2, key="user_id", ts_col="ts", within_seconds=60)
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2
    assert "ts" in plan


def test_adaptive_alert_stream_survives_nan_values(spark, tmp_path):
    """A null/NaN reading must not poison the per-key EW baseline: the
    poisoned-state failure mode is mean=NaN forever, silently disabling
    detection. After one NaN, subsequent genuine outliers must still
    flag, and the baseline must equal the fold over only the non-null
    values."""
    import math

    import pandas as pd

    from real_time_iot_data_pipeline_project_spark.streaming import stateful

    rows = ([(i, "s1", float(10 + (i % 3))) for i in range(20)]
            + [(20, "s1", float("nan"))]
            + [(21 + i, "s1", float(10 + (i % 3))) for i in range(5)]
            + [(26, "s1", 500.0)])
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(rows, columns=["seq", "station_id", "value"]).to_parquet(
        str(src / "p.parquet"))
    src = str(src)
    stream = spark.readStream.schema(
        "seq long, station_id string, value double").parquet(src)
    out = stateful.adaptive_alert_stream(
        stream, key="station_id", order_col="seq", value_col="value",
        alpha=0.3, k=3.0, min_obs=5)
    sink = str(tmp_path / "out")
    q = (out.writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # the stream's output schema carries order_col as an event-time
    # timestamp (epoch-micros here) — index rows positionally
    out_rows = spark.read.parquet(sink).orderBy("seq").collect()
    assert len(out_rows) == len(rows)
    got = {i: r for i, r in enumerate(out_rows)}
    # the NaN row itself: unflagged, no z
    assert got[20]["is_anomaly"] is False and got[20]["zscore"] is None
    # baselines never go NaN after the poison row
    for s in range(21, 27):
        assert not math.isnan(got[s]["baseline_mean"])
    # the genuine outlier after the NaN still flags
    assert got[26]["is_anomaly"] is True


def _cdc_rows(spark, rows):
    return spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, v string, op string")


def test_cdc_upsert_snapshot_matches_batch_compaction(spark, tmp_path):
    """Streaming CDC upsert (bucketed partial rewrite): after N
    micro-batches the read_snapshot state must equal
    cdc_latest_snapshot over the concatenated changelog (minus n_ops,
    which the incremental path deliberately does not track)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.streaming import upsert
    from real_time_iot_data_pipeline_project_spark.warehouse import history

    def t(s):
        return dt.datetime(2024, 5, 1, 0, 0, s)

    batches = [
        [(1, t(0), 1, "a", "U"), (2, t(1), 2, "b", "U"),
         (3, t(2), 3, "c", "U")],
        [(1, t(10), 4, "a2", "U"), (2, t(11), 5, "b", "D")],
        [(2, t(20), 6, "b2", "U"), (4, t(21), 7, "d", "U"),
         (3, t(22), 8, "c", "D")],
    ]
    snap = str(tmp_path / "snap")
    for rows in batches:
        upsert.apply_cdc_batch(
            spark, _cdc_rows(spark, rows), snap,
            key_cols=["k"], order_cols=["ts", "seq"], op_col="op",
            n_buckets=4)
    got = upsert.read_snapshot(spark, snap, op_col="op").drop("op")
    full_log = _cdc_rows(spark, [r for b in batches for r in b])
    want = history.cdc_latest_snapshot(
        full_log, key_cols=["k"], order_cols=["ts", "seq"],
        op_col="op").drop("n_ops")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # deleted keys are tombstone ROWS on disk but absent from reads
    raw = spark.read.parquet(snap)
    assert raw.filter(F.col("op") == "D").count() == 1  # key 3's delete
    assert {r["k"] for r in got.collect()} == {1, 2, 4}


def test_cdc_upsert_replay_and_stale_ops_converge(spark, tmp_path):
    """Replaying a batch changes nothing (latest-wins is idempotent),
    and a STALE upsert delivered after a newer delete cannot resurrect
    the key — the property the retained tombstone exists for."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.streaming import upsert

    def t(s):
        return dt.datetime(2024, 5, 1, 0, 0, s)

    snap = str(tmp_path / "snap")
    apply = lambda rows: upsert.apply_cdc_batch(  # noqa: E731
        spark, _cdc_rows(spark, rows), snap, key_cols=["k"],
        order_cols=["ts", "seq"], op_col="op", n_buckets=4)

    b1 = [(1, t(0), 1, "a", "U"), (2, t(1), 2, "b", "U")]
    b2 = [(1, t(10), 3, "x", "D")]
    apply(b1)
    apply(b2)
    state1 = sorted(map(tuple, upsert.read_snapshot(
        spark, snap, op_col="op").collect()))
    # crash-replay of b2
    apply(b2)
    state2 = sorted(map(tuple, upsert.read_snapshot(
        spark, snap, op_col="op").collect()))
    assert state1 == state2
    # stale upsert for key 1 (ts BEFORE the delete) arrives late
    apply([(1, t(5), 9, "stale", "U")])
    final = upsert.read_snapshot(spark, snap, op_col="op")
    assert {r["k"] for r in final.collect()} == {2}


def test_cdc_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The partial-rewrite contract: a batch whose keys hash into one
    bucket must leave every other bucket's files byte-identical (same
    names, sizes, mtimes) — per-trigger cost tracks the batch, not the
    accumulated state."""
    import datetime as dt
    import glob
    import os

    from real_time_iot_data_pipeline_project_spark.streaming import upsert

    def t(s):
        return dt.datetime(2024, 5, 1, 0, 0, s)

    snap = str(tmp_path / "snap")
    seed = [(k, t(0), k, f"v{k}", "U") for k in range(1, 40)]
    upsert.apply_cdc_batch(
        spark, _cdc_rows(spark, seed), snap, key_cols=["k"],
        order_cols=["ts", "seq"], op_col="op", n_buckets=8)

    def fingerprint():
        return {
            p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(f"{snap}/__bucket=*/part-*")
        }

    before = fingerprint()
    upsert.apply_cdc_batch(
        spark, _cdc_rows(spark, [(1, t(10), 100, "v1b", "U")]), snap,
        key_cols=["k"], order_cols=["ts", "seq"], op_col="op",
        n_buckets=8)
    after = fingerprint()
    from pyspark.sql import functions as F
    bucket_of_1 = 1 and [
        r[0] for r in spark.createDataFrame([(1,)], "k long").select(
            F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")).collect()][0]
    changed = {p for p in before if after.get(p) != before[p]}
    untouched_dirs = {f"__bucket={b}" for b in range(8)} - {f"__bucket={bucket_of_1}"}
    for p in changed:
        assert f"__bucket={bucket_of_1}" in p, p
    # every untouched bucket's files survive byte-identical
    for p, meta in before.items():
        if any(d in p for d in untouched_dirs):
            assert after[p] == meta


def test_cdc_upsert_compact_purges_old_tombstones_only(spark, tmp_path):
    """compact_snapshot drops tombstones past the horizon, keeps young
    ones (still guarding against late stale upserts) and all live
    rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.streaming import upsert

    def t(s):
        return dt.datetime(2024, 5, 1, 0, 0, s)

    snap, out = str(tmp_path / "snap"), str(tmp_path / "compacted")
    rows = [(1, t(0), 1, "a", "U"), (2, t(1), 2, "b", "D"),
            (3, t(50), 3, "c", "D"), (4, t(51), 4, "d", "U")]
    upsert.apply_cdc_batch(
        spark, _cdc_rows(spark, rows), snap, key_cols=["k"],
        order_cols=["ts", "seq"], op_col="op", n_buckets=4)
    n = upsert.compact_snapshot(
        spark, snap, out, op_col="op",
        horizon_filter=F.col("ts") < F.lit(t(30)))
    compacted = spark.read.parquet(out)
    assert n == 3
    ops = {(r["k"], r["op"]) for r in compacted.collect()}
    assert ops == {(1, "U"), (3, "D"), (4, "U")}  # key 2's old tombstone gone
    # reads over the compacted store show the same live state
    live = upsert.read_snapshot(spark, out, op_col="op")
    assert {r["k"] for r in live.collect()} == {1, 4}


def test_cdc_upsert_streaming_wiring(spark, tmp_path):
    """End-to-end through a real stream: changelog file stream →
    foreachBatch CDC upsert → snapshot; restart with the same
    checkpoint adds nothing (exactly-once at the sink)."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.streaming import job, upsert

    src = tmp_path / "src"
    src.mkdir()
    schema = "k long, ts timestamp, seq long, v string, op string"

    def t(s):
        return dt.datetime(2024, 5, 1, 0, 0, s)

    _cdc_rows(spark, [(1, t(0), 1, "a", "U"), (2, t(1), 2, "b", "U"),
                      (1, t(2), 3, "a2", "U"), (2, t(3), 4, "b", "D")]
              ).write.parquet(str(src / "f1"))
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    fn = upsert.make_cdc_upsert_batch_fn(
        snap, key_cols=["k"], order_cols=["ts", "seq"], op_col="op",
        n_buckets=4)
    q = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                     available_now=True)
    q.awaitTermination(120)
    got = {(r["k"], r["v"]) for r in
           upsert.read_snapshot(spark, snap, op_col="op").collect()}
    assert got == {(1, "a2")}
    # restart with same checkpoint: no new data, snapshot unchanged
    q2 = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                      available_now=True)
    q2.awaitTermination(120)
    got2 = {(r["k"], r["v"]) for r in
            upsert.read_snapshot(spark, snap, op_col="op").collect()}
    assert got2 == got


def test_conflicting_trigger_request_rejected(spark, tmp_path):
    """processing_time + available_now on one sink helper is a
    contradiction (a stream has exactly one trigger); DataStreamWriter
    would silently keep only the last trigger() — the helpers must
    raise instead (ADVICE r6)."""
    src = str(tmp_path / "trig_src")
    spark.createDataFrame([("S1",)], ["station_id"]).select(
        F.to_json(F.struct("*")).alias("value")
    ).coalesce(1).write.text(src)
    raw = spark.readStream.schema(
        T.StructType([T.StructField("value", T.StringType())])
    ).text(src)
    with pytest.raises(ValueError, match="not both"):
        job.start_console_sink(raw, processing_time="1 second",
                               available_now=True)
    assert job.active_stream_status(spark) == []  # nothing started


def _obs_rows(spark, rows):
    return spark.createDataFrame(
        rows, "k long, ts timestamp, tb long, a string")


def test_scd2_sink_stream_equals_full_rebuild(spark, tmp_path):
    """Streaming SCD2 dimension sink: a sequence of micro-batches folded
    through apply_scd2_batch must equal scd2_from_history over the
    concatenated observations (the q112 invariant, now through the
    bucketed streaming storage)."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.streaming import scd2
    from real_time_iot_data_pipeline_project_spark.warehouse import history

    def t(h):
        return dt.datetime(2024, 5, 1, h)

    all_rows = [
        (1, t(1), 1, "A"), (1, t(2), 2, "B"), (1, t(3), 3, "B"),
        (1, t(4), 4, "C"),
        (2, t(1), 5, "X"), (2, t(5), 6, "Y"),
        (3, t(6), 7, "Q"),
    ]
    dim_dir = str(tmp_path / "dim")
    for batch in (all_rows[:3], all_rows[3:5], all_rows[5:]):
        scd2.apply_scd2_batch(
            spark, _obs_rows(spark, batch), dim_dir, key_cols=["k"],
            ts_col="ts", attr_col="a", tiebreak_col="tb", n_buckets=4)
    got = sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect()))
    want = sorted(map(tuple, history.scd2_from_history(
        _obs_rows(spark, all_rows), key_cols=["k"], ts_col="ts",
        attr_col="a", tiebreak_col="tb").collect()))
    assert got == want


def test_scd2_sink_replay_is_byte_identical(spark, tmp_path):
    """Crash-replay: re-applying an already-folded batch must leave the
    dimension byte-identical (late rows skipped, re-folded rows detect
    no change) — exactly-once at the sink without a batch_id ledger."""
    import datetime as dt
    import hashlib

    from real_time_iot_data_pipeline_project_spark.streaming import scd2

    def t(h):
        return dt.datetime(2024, 5, 1, h)

    from real_time_iot_data_pipeline_project_spark.streaming.upsert import (
        BUCKET_COL, _with_bucket,
    )

    def touched_of(batch):
        wb = _with_bucket(_obs_rows(spark, batch), ["k"], 4)
        return {r[BUCKET_COL] for r in wb.select(BUCKET_COL).collect()}

    def dir_digest(path, exclude_buckets=()):
        import os
        skip = tuple(f"{BUCKET_COL}={b}" for b in exclude_buckets)
        h = hashlib.md5()
        for root, _d, names in sorted(os.walk(path)):
            if any(s in root for s in skip):
                continue
            for n in sorted(names):
                if n.startswith(("_", ".")):
                    continue
                p = os.path.join(root, n)
                h.update(n.encode())
                h.update(open(p, "rb").read())
        return h.hexdigest()

    dim_dir = str(tmp_path / "dim")
    b1 = [(1, t(1), 1, "A"), (2, t(1), 2, "X")]
    b2 = [(1, t(2), 3, "B"), (1, t(3), 4, "B"), (2, t(4), 5, "Y")]
    scd2.apply_scd2_batch(spark, _obs_rows(spark, b1), dim_dir,
                          key_cols=["k"], ts_col="ts", attr_col="a",
                          tiebreak_col="tb", n_buckets=4)
    scd2.apply_scd2_batch(spark, _obs_rows(spark, b2), dim_dir,
                          key_cols=["k"], ts_col="ts", attr_col="a",
                          tiebreak_col="tb", n_buckets=4)
    untouched = dir_digest(dim_dir, exclude_buckets=touched_of(b2))
    rows_before = sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect()))
    # replay the last batch (the foreachBatch crash-recovery scenario)
    scd2.apply_scd2_batch(spark, _obs_rows(spark, b2), dim_dir,
                          key_cols=["k"], ts_col="ts", attr_col="a",
                          tiebreak_col="tb", n_buckets=4)
    # content converges row-identically (rewritten files carry fresh
    # part-UUID names, so byte-identity applies to untouched buckets)
    assert sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect())) \
        == rows_before
    assert dir_digest(dim_dir, exclude_buckets=touched_of(b2)) == untouched


def test_scd2_sink_untouched_buckets_and_late_policy(spark, tmp_path):
    """A batch touching one key rewrites only that key's bucket; the
    other buckets' files stay byte-identical. late_policy='error'
    refuses genuinely-late observations instead of skipping."""
    import datetime as dt
    import os

    import pytest as _pytest

    from real_time_iot_data_pipeline_project_spark.streaming import scd2

    def t(h):
        return dt.datetime(2024, 5, 1, h)

    dim_dir = str(tmp_path / "dim")
    seed = [(k, t(1), k, "A") for k in range(1, 30)]
    scd2.apply_scd2_batch(spark, _obs_rows(spark, seed), dim_dir,
                          key_cols=["k"], ts_col="ts", attr_col="a",
                          tiebreak_col="tb", n_buckets=8)
    mtimes = {}
    for root, _d, names in os.walk(dim_dir):
        for n in names:
            p = os.path.join(root, n)
            mtimes[p] = os.path.getmtime(p)
    scd2.apply_scd2_batch(spark, _obs_rows(spark, [(1, t(2), 100, "B")]),
                          dim_dir, key_cols=["k"], ts_col="ts",
                          attr_col="a", tiebreak_col="tb", n_buckets=8)
    from real_time_iot_data_pipeline_project_spark.streaming.upsert import (
        BUCKET_COL, _with_bucket,
    )
    wb = _with_bucket(_obs_rows(spark, [(1, t(2), 100, "B")]), ["k"], 8)
    touched_bucket = wb.select(BUCKET_COL).collect()[0][0]
    for p, m in mtimes.items():
        if os.path.exists(p) and f"{BUCKET_COL}={touched_bucket}" not in p \
                and p.endswith(".parquet"):
            assert os.path.getmtime(p) == m, f"untouched file rewritten: {p}"
    # genuinely late (ts before key 1's open interval) with error policy
    with _pytest.raises(ValueError, match="late_policy"):
        scd2.apply_scd2_batch(spark, _obs_rows(spark, [(1, t(1), 200, "C")]),
                              dim_dir, key_cols=["k"], ts_col="ts",
                              attr_col="a", tiebreak_col="tb", n_buckets=8,
                              late_policy="error")
    # default skip: same call is a no-op, not an error
    before = sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect()))
    scd2.apply_scd2_batch(spark, _obs_rows(spark, [(1, t(1), 200, "C")]),
                          dim_dir, key_cols=["k"], ts_col="ts",
                          attr_col="a", tiebreak_col="tb", n_buckets=8)
    assert sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect())) \
        == before
    # the foreachBatch adapter must FORWARD late_policy (a streaming
    # caller on an exactly-once ordered transport selects 'error')
    strict_fn = scd2.make_scd2_batch_fn(
        dim_dir, key_cols=["k"], ts_col="ts", attr_col="a",
        tiebreak_col="tb", n_buckets=8, late_policy="error")
    with _pytest.raises(ValueError, match="late_policy"):
        strict_fn(_obs_rows(spark, [(1, t(1), 201, "D")]), 99)


def test_scd2_sink_streaming_wiring(spark, tmp_path):
    """End-to-end through a real stream: observation file stream →
    foreachBatch SCD2 fold → bucketed dimension; restart with the same
    checkpoint adds nothing."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.streaming import job, scd2
    from real_time_iot_data_pipeline_project_spark.warehouse import history

    def t(h):
        return dt.datetime(2024, 5, 1, h)

    rows = [(1, t(1), 1, "A"), (1, t(2), 2, "B"), (2, t(1), 3, "X")]
    src = tmp_path / "src"
    src.mkdir()
    _obs_rows(spark, rows).write.parquet(str(src / "f1"))
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(
        "k long, ts timestamp, tb long, a string").parquet(f"{src}/*")
    fn = scd2.make_scd2_batch_fn(dim_dir, key_cols=["k"], ts_col="ts",
                                 attr_col="a", tiebreak_col="tb",
                                 n_buckets=4)
    q = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                     available_now=True)
    q.awaitTermination(120)
    want = sorted(map(tuple, history.scd2_from_history(
        _obs_rows(spark, rows), key_cols=["k"], ts_col="ts",
        attr_col="a", tiebreak_col="tb").collect()))
    assert sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect())) == want
    q2 = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                      available_now=True)
    q2.awaitTermination(120)
    assert sorted(map(tuple, scd2.read_dim(spark, dim_dir).collect())) == want


def test_scd2_stream_equals_incremental_equals_rebuild_equals_duckdb(
        spark, duck, tmp_path):
    """The strongest H2-family equivalence chain (VERDICT r7 item 7):
    the SAME event slice q112 gates on, driven through the STREAMING
    SCD2 sink as two micro-batches (base days, then the increment),
    must be row-identical to (a) the incremental batch fold (q112's
    exact path), (b) the full rebuild (q98's formulation), and (c) the
    DuckDB oracle — chaining stream == incremental == rebuild == DuckDB
    in one test."""
    from real_time_iot_data_pipeline_project_spark import registry
    from real_time_iot_data_pipeline_project_spark.streaming import scd2
    from real_time_iot_data_pipeline_project_spark.warehouse import history
    from tests.conftest import SF_SMOKE
    from tools.verify_oracles import compare

    cutoff = "2024-01-20 00:00:00"
    ev = registry._t(spark, SF_SMOKE, "events")
    hist = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high").alias("state"),
    )
    base = hist.filter(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
    inc = hist.filter(F.col("ts") > F.lit(cutoff).cast("timestamp"))

    # --- streaming path: two real micro-batches through the sink ---
    src = tmp_path / "src"
    src.mkdir()
    dim_dir = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    stream_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hist.schema)
    fn = scd2.make_scd2_batch_fn(dim_dir, key_cols=["user_id"],
                                 ts_col="ts", attr_col="state",
                                 tiebreak_col="event_id", n_buckets=8)
    base.write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(stream_schema).parquet(f"{src}/*")
    q1 = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                      available_now=True)
    q1.awaitTermination(120)
    inc.write.parquet(str(src / "f2"))
    q2 = job.start_foreach_batch_sink(stream, fn, checkpoint=ckpt,
                                      available_now=True)
    q2.awaitTermination(120)
    streamed = scd2.read_dim(spark, dim_dir).select(
        "user_id", "state", "effective_from", "effective_to",
        "version", "is_current")

    def key(rows):
        return sorted((r["user_id"], r["state"], r["effective_from"],
                       r["effective_to"], r["version"], r["is_current"])
                      for r in rows)

    got_stream = key(streamed.collect())

    # --- incremental batch fold (q112's exact path) ---
    got_inc = key(registry.QUERIES["q112_scd2_incremental"](
        spark, SF_SMOKE).collect())

    # --- full rebuild over the concatenated history ---
    got_rebuild = key(history.scd2_from_history(
        hist, key_cols=["user_id"], ts_col="ts", attr_col="state",
        tiebreak_col="event_id").collect())

    assert got_stream == got_inc, "stream != incremental fold"
    assert got_inc == got_rebuild, "incremental fold != full rebuild"

    # --- DuckDB: the streamed dimension vs q112's oracle SQL ---
    problems = compare(spark, duck, "scd2_stream_chain",
                       lambda s, sf: streamed,
                       registry.ORACLES["q112_scd2_incremental"], SF_SMOKE)
    assert not problems, problems


def test_streaming_dup_span_across_batches(spark, tmp_path):
    """X39 streaming tier: a batch-2 doc repeating an 8-token run from a
    batch-1 doc is excised against the window-hash store; the whole
    stream-engine run equals the direct foreachBatch-body fold (the
    contract q130's hash gate builds on)."""
    import json as _json

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    run = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows1 = [
        {"doc_id": 1, "text": run + " original tail", "lang": "en",
         "source": "s1", "event_time": "2026-01-01T10:00:00"},
        {"doc_id": 2, "text": "a wholly unrelated first batch document",
         "lang": "en", "source": "s1",
         "event_time": "2026-01-01T10:01:00"},
    ]
    rows2 = [
        {"doc_id": 3, "text": "prefix " + run + " arriving later",
         "lang": "en", "source": "s2",
         "event_time": "2026-01-01T10:05:00"},
        {"doc_id": 4, "text": "fresh second batch content with no repeats",
         "lang": "en", "source": "s2",
         "event_time": "2026-01-01T10:06:00"},
    ]
    src = tmp_path / "span_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))

    sink = str(tmp_path / "scrubbed")
    store = str(tmp_path / "spanstore")
    q = curation.start_dup_span_sink(
        curation.read_doc_stream(spark, str(src)),
        sink, str(tmp_path / "ckpt"), store, available_now=True,
    )
    q.awaitTermination(120)

    got = {r.doc_id: (r.n_tokens, r.n_tokens_kept)
           for r in spark.read.parquet(sink).collect()}
    assert got[1] == (10, 10)              # first occurrence intact
    assert got[3] == (11, 3)               # run excised: prefix+arriving+later
    assert got[2][0] == got[2][1] and got[4][0] == got[4][1]

    # stream-engine == direct foreachBatch-body invocation (q130's base)
    direct_sink = str(tmp_path / "direct_sink")
    direct_store = str(tmp_path / "direct_store")
    for b, rows in enumerate([rows1, rows2]):
        batch = spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows], ["doc_id", "text"])
        curation.process_span_batch(batch, b, direct_sink, direct_store)
    direct = {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_fp)
              for r in spark.read.parquet(direct_sink).collect()}
    streamed = {r.doc_id: (r.n_tokens, r.n_tokens_kept, r.cleaned_fp)
                for r in spark.read.parquet(sink).collect()}
    assert streamed == direct


def test_dup_span_sink_crash_replay_idempotent(spark, tmp_path):
    """Exactly-once: a crash between the sink and store writes followed
    by a checkpoint replay of the SAME batch_id converges — and the
    replayed batch is never scrubbed against its own contribution
    (the own-partition exclusion; without it every doc would lose all
    its windows to 'the store' on replay)."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import curation

    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, run + " alpha"), (2, run + " beta")], ["doc_id", "text"])
    sink = str(tmp_path / "scrubbed")
    store = str(tmp_path / "spanstore")

    curation.process_span_batch(docs, 0, sink, store)
    baseline = sorted(map(tuple, spark.read.parquet(sink).collect()))
    # within-batch rule held: doc 1 keeps the run, doc 2 loses it
    by_id = {t[0]: t for t in baseline}
    assert by_id[1][1:3] == (9, 9) and by_id[2][1:3] == (9, 1)
    store_n = spark.read.parquet(f"{store}/hashes").count()

    # crash between sink write and store write: replay fills the store
    # without changing the sink bytes
    shutil.rmtree(f"{store}/hashes/batch_id=0")
    curation.process_span_batch(docs, 0, sink, store)
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == baseline
    assert spark.read.parquet(f"{store}/hashes").count() == store_n

    # full replay after a completed batch: identical output (the store
    # now EXISTS and holds this batch's own hashes — exclusion proven)
    curation.process_span_batch(docs, 0, sink, store)
    assert sorted(map(tuple, spark.read.parquet(sink).collect())) == baseline
    assert spark.read.parquet(f"{store}/hashes").count() == store_n


def test_dup_span_sink_empty_batch_noop(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    empty = spark.createDataFrame([], "doc_id long, text string")
    curation.process_span_batch(
        empty, 0, str(tmp_path / "s"), str(tmp_path / "st"))
    assert not (tmp_path / "s").exists() and not (tmp_path / "st").exists()


def test_dup_span_sink_first_batch_store_crash_recovers(spark, tmp_path):
    """A crash during the FIRST batch's store write can leave only a
    _temporary dir under {store}/hashes — no data files, no batch_id
    partition dirs. The replay must read that as an EMPTY store (pinned
    schema + conditional exclusion), not wedge on schema inference."""
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    docs = spark.createDataFrame(
        [(1, "s1 s2 s3 s4 s5 s6 s7 s8 tail")], ["doc_id", "text"])
    sink = str(tmp_path / "scrubbed")
    store = str(tmp_path / "spanstore")
    (tmp_path / "spanstore" / "hashes" / "_temporary").mkdir(parents=True)

    curation.process_span_batch(docs, 0, sink, store)   # must not raise
    got = spark.read.parquet(sink).collect()
    assert [(r.doc_id, r.n_tokens, r.n_tokens_kept) for r in got] == [(1, 9, 9)]
    assert spark.read.parquet(f"{store}/hashes").count() > 0


def test_compact_span_store_preserves_scrub_decisions(spark, tmp_path):
    """Folding all but the newest batch into the batch_id=-1 sentinel
    shrinks the store (global DISTINCT) without changing any future
    scrub decision, and keeps the newest batch's replay exclusion
    working."""
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    run = "c1 c2 c3 c4 c5 c6 c7 c8"
    batches = [
        [(1, run + " alpha")],
        [(2, run + " beta"), (3, "other early content here now")],
        [(4, run + " gamma")],
    ]
    sink = str(tmp_path / "scrubbed")
    store = str(tmp_path / "store")
    for b, rows in enumerate(batches):
        curation.process_span_batch(
            spark.createDataFrame(rows, ["doc_id", "text"]), b, sink, store)

    before = spark.read.parquet(f"{store}/hashes").count()
    out_store = str(tmp_path / "store_c")
    rep = curation.compact_span_store(spark, store, out_store)
    assert rep == {"before": before,
                   "after": spark.read.parquet(f"{out_store}/hashes").count(),
                   "kept_batch": 2}
    assert rep["after"] < rep["before"]        # the shared run deduped
    hashes = spark.read.parquet(f"{out_store}/hashes")
    assert {r.batch_id for r in hashes.select("batch_id").distinct()
            .collect()} == {-1, 2}

    # a NEW batch scrubs identically against original vs compacted
    new_rows = [(5, "prefix " + run + " delta"), (6, "fresh unseen text")]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    s_orig = str(tmp_path / "s_orig")
    s_comp = str(tmp_path / "s_comp")
    import shutil
    o2 = str(tmp_path / "store_orig2"); shutil.copytree(store, o2)
    c2 = str(tmp_path / "store_comp2"); shutil.copytree(out_store, c2)
    curation.process_span_batch(new_df, 3, s_orig, o2)
    curation.process_span_batch(new_df, 3, s_comp, c2)
    a = sorted(map(tuple, spark.read.parquet(s_orig).collect()))
    b = sorted(map(tuple, spark.read.parquet(s_comp).collect()))
    assert a == b

    # replay of the NEWEST folded-around batch (id 2) against the
    # compacted store: own-partition exclusion intact -> same output
    replay_sink = str(tmp_path / "replay_sink")
    c3 = str(tmp_path / "store_comp3"); shutil.copytree(out_store, c3)
    curation.process_span_batch(
        spark.createDataFrame(batches[2], ["doc_id", "text"]),
        2, replay_sink, c3)
    got = spark.read.parquet(replay_sink).head()
    orig = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    assert (got.n_tokens, got.n_tokens_kept, got.cleaned_fp) == (
        orig[4].n_tokens, orig[4].n_tokens_kept, orig[4].cleaned_fp)


def test_compact_span_store_validation(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    with pytest.raises(ValueError, match="differ"):
        curation.compact_span_store(spark, str(tmp_path / "x"),
                                    str(tmp_path / "x"))
    with pytest.raises(ValueError, match="missing"):
        curation.compact_span_store(spark, str(tmp_path / "nope"),
                                    str(tmp_path / "out"))


def test_compact_span_store_cli_and_empty_store(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark import pipelines
    from real_time_iot_data_pipeline_project_spark.operators import dedup
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    # all-empty store (every batch held only sub-window docs): clean
    # ValueError before anything is written, not int(None) after
    store = str(tmp_path / "empty_store")
    dedup.span_window_hashes(
        spark.createDataFrame([(1, "too short")], ["doc_id", "text"])
    ).write.parquet(f"{store}/hashes/batch_id=0")
    with pytest.raises(ValueError, match="no hash rows"):
        curation.compact_span_store(spark, store, str(tmp_path / "out"))
    assert not (tmp_path / "out").exists()

    # CLI domain wiring
    run = "k1 k2 k3 k4 k5 k6 k7 k8"
    real = str(tmp_path / "real_store")
    for b in range(2):
        curation.process_span_batch(
            spark.createDataFrame([(b, run + f" tail{b}")],
                                  ["doc_id", "text"]),
            b, str(tmp_path / "sink"), real)
    out = str(tmp_path / "out_cli")
    pipelines.main(["compact-span-store", real, "--output", out])
    assert spark.read.parquet(f"{out}/hashes").count() > 0


# ---------------------------------------------------------------------------
# X42 — streaming SemDeDup increment (semantic_stream)
# ---------------------------------------------------------------------------

def _sem_vectors():
    """A 4-dim corpus with controlled cosine structure at τ = 0.9
    (cos 25.84°): bucket c1 holds vectors at angles 0°/20°/60°/40° in
    the (dim0, dim1) plane — v1~v2 (cos 20° ≈ .94) group in batch 0,
    v3 (60°) is a singleton after batch 1, and v4 (40°) arriving in
    batch 2 bridges BOTH (cos 20° to each) — the retroactive
    cross-batch merge. v5 sits alone in bucket c2."""
    import math

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    return {
        0: [(1, at(0)), (2, at(20))],
        1: [(3, at(60)), (5, [0.0, 0.0, 1.0, 0.0])],
        2: [(4, at(40))],
    }


def _sem_store(spark, tmp_path, threshold=0.9):
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    cents = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 0.0, 1.0, 0.0])],
        "centroid_id long, cvec array<float>")
    store = str(tmp_path / "semstore")
    semantic_stream.init_semantic_store(cents, store)
    return cents, store


def _sem_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def test_streaming_semantic_dedup_retroactive_merge(spark, tmp_path):
    """The fold's headline exactness claim: a batch-2 vector bridging
    two groups formed in batches 0/1 merges them at read time, and the
    closed result equals BATCH semantic_dedup on the full corpus with
    the same pinned centroids — bit-for-bit (q132's hash gate is this
    contract at corpus scale)."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        similarity,
    )
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    batches = _sem_vectors()
    cents, store = _sem_store(spark, tmp_path)
    for b in range(3):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, batches[b]), b, store, threshold=0.9)

    got = {r.vec_id: (r.centroid_id, r.group_id, r.keep)
           for r in semantic_stream.semantic_groups(spark, store).collect()}
    # v1..v4 one group rooted at 1 (v4 bridged {1,2} and {3}); v5 alone
    assert got == {
        1: (100, 1, True), 2: (100, 1, False), 3: (100, 1, False),
        4: (100, 1, False), 5: (200, 5, True),
    }

    full = _sem_df(spark, [v for b in batches.values() for v in b])
    batch_rule = {r.vec_id: (r.centroid_id, r.group_id, r.keep)
                  for r in similarity.semantic_dedup(
                      full, cents, threshold=0.9).collect()}
    assert got == batch_rule


def test_streaming_semantic_sink_engine_equals_direct(spark, tmp_path):
    """availableNow stream-engine run == direct foreachBatch-body
    invocation (the equivalence q132's direct-drive gate builds on)."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    batches = _sem_vectors()
    src = tmp_path / "vec_in"
    src.mkdir()
    for b in range(3):
        _sem_df(spark, batches[b]).coalesce(1).write.mode(
            "overwrite").parquet(str(src / f"b{b}.parquet"))

    _, stream_store = _sem_store(spark, tmp_path / "s1")
    vecs = (spark.readStream
            .schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*/"))
    q = semantic_stream.start_semantic_dedup_sink(
        vecs, str(tmp_path / "ckpt"), stream_store, threshold=0.9,
        available_now=True)
    q.awaitTermination(120)

    _, direct_store = _sem_store(spark, tmp_path / "s2")
    for b in range(3):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, batches[b]), b, direct_store, threshold=0.9)

    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(semantic_stream.semantic_groups(spark, stream_store)) \
        == key(semantic_stream.semantic_groups(spark, direct_store))


def test_semantic_sink_crash_replay_idempotent(spark, tmp_path):
    """Exactly-once: a crash between the edge write and the vector
    write, followed by a checkpoint replay of the SAME batch_id,
    converges; so does a full replay after a completed batch (the
    store now holds this batch's own vectors — the own-partition
    exclusion keeps the replayed edges identical)."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    batches = _sem_vectors()
    _, store = _sem_store(spark, tmp_path)
    for b in range(3):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, batches[b]), b, store, threshold=0.9)
    baseline = sorted(map(tuple, semantic_stream.semantic_groups(
        spark, store).collect()))
    edges_n = spark.read.parquet(f"{store}/edges").count()

    # crash between the edge write and the vector write of batch 2
    shutil.rmtree(f"{store}/vectors/batch_id=2")
    semantic_stream.process_semantic_batch(
        _sem_df(spark, batches[2]), 2, store, threshold=0.9)
    assert sorted(map(tuple, semantic_stream.semantic_groups(
        spark, store).collect())) == baseline
    assert spark.read.parquet(f"{store}/edges").count() == edges_n

    # full replay after a completed batch: identical close
    semantic_stream.process_semantic_batch(
        _sem_df(spark, batches[2]), 2, store, threshold=0.9)
    assert sorted(map(tuple, semantic_stream.semantic_groups(
        spark, store).collect())) == baseline
    assert spark.read.parquet(f"{store}/edges").count() == edges_n


def test_semantic_sink_empty_batch_and_no_pairs(spark, tmp_path):
    """An empty micro-batch is a no-op; a stream whose batches never
    form a ≥τ pair closes to all-singleton groups — exercising the
    pinned-schema edge read over data-file-less partitions."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    _, store = _sem_store(spark, tmp_path)
    semantic_stream.process_semantic_batch(
        _sem_df(spark, []), 0, store, threshold=0.9)
    assert not (tmp_path / "semstore" / "vectors").exists()

    semantic_stream.process_semantic_batch(
        _sem_df(spark, [(1, [1.0, 0.0, 0.0, 0.0])]), 0, store,
        threshold=0.9)
    semantic_stream.process_semantic_batch(
        _sem_df(spark, [(2, [0.0, 0.0, 1.0, 0.0])]), 1, store,
        threshold=0.9)
    got = {r.vec_id: (r.group_id, r.keep) for r in
           semantic_stream.semantic_groups(spark, store).collect()}
    assert got == {1: (1, True), 2: (2, True)}


def test_semantic_sink_first_batch_store_crash_recovers(spark, tmp_path):
    """A crash during the FIRST batch's vector write can leave only a
    _temporary dir under {store}/vectors — no data files, no batch_id
    partition dirs. The replay must read that as an EMPTY store (pinned
    schema + conditional exclusion), not wedge on schema inference."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    _, store = _sem_store(spark, tmp_path)
    (tmp_path / "semstore" / "vectors" / "_temporary").mkdir(parents=True)

    semantic_stream.process_semantic_batch(     # must not raise
        _sem_df(spark, _sem_vectors()[0]), 0, store, threshold=0.9)
    got = {r.vec_id: r.keep for r in
           semantic_stream.semantic_groups(spark, store).collect()}
    assert got == {1: True, 2: False}


def test_compact_semantic_store_preserves_groups_and_replay(spark, tmp_path):
    """Folding all but the newest batch into the batch_id=-1 sentinel
    changes neither the closed groups nor the fold's forward/replay
    behavior: the close over the compacted store is identical, a
    replay of the preserved newest batch converges, and a NEW batch
    folded onto the compacted store closes exactly like the same batch
    on the uncompacted one."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    batches = _sem_vectors()
    _, store = _sem_store(spark, tmp_path)
    for b in (0, 1):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, batches[b]), b, store, threshold=0.9)

    out = str(tmp_path / "compacted")
    rep = semantic_stream.compact_semantic_store(spark, store, out)
    assert rep["kept_batch"] == 1 and rep["vectors"] == 4

    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(semantic_stream.semantic_groups(spark, out)) \
        == key(semantic_stream.semantic_groups(spark, store))

    # replay of the preserved newest batch against the compacted store
    semantic_stream.process_semantic_batch(
        _sem_df(spark, batches[1]), 1, out, threshold=0.9)
    assert key(semantic_stream.semantic_groups(spark, out)) \
        == key(semantic_stream.semantic_groups(spark, store))

    # a NEW batch on the compacted store == the same batch uncompacted
    # (the retroactive-merge batch, so the sentinel partitions are
    # actually exercised by the close)
    semantic_stream.process_semantic_batch(
        _sem_df(spark, batches[2]), 2, out, threshold=0.9)
    semantic_stream.process_semantic_batch(
        _sem_df(spark, batches[2]), 2, store, threshold=0.9)
    assert key(semantic_stream.semantic_groups(spark, out)) \
        == key(semantic_stream.semantic_groups(spark, store))
    got = {r.vec_id: r.group_id for r in
           semantic_stream.semantic_groups(spark, out).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}

    # in-place compaction is refused
    with pytest.raises(ValueError, match="out-of-place"):
        semantic_stream.compact_semantic_store(spark, store, store)

    # mid-batch crash shape: edges one batch ahead of vectors — the
    # preserved id must come from the EDGE store so the replay's
    # overwrite still targets a live partition
    shutil.rmtree(f"{store}/vectors/batch_id=2")
    out2 = str(tmp_path / "compacted2")
    rep2 = semantic_stream.compact_semantic_store(spark, store, out2)
    assert rep2["kept_batch"] == 2
    semantic_stream.process_semantic_batch(   # replay of batch 2
        _sem_df(spark, batches[2]), 2, out2, threshold=0.9)
    assert {r.vec_id: r.group_id for r in
            semantic_stream.semantic_groups(spark, out2).collect()} == got


def test_compact_semantic_store_cli(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark import pipelines
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    _, store = _sem_store(spark, tmp_path)
    for b in (0, 1):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, _sem_vectors()[b]), b, store, threshold=0.9)
    out = str(tmp_path / "out_cli")
    pipelines.main(["compact-semantic-store", store, "--output", out])
    assert spark.read.parquet(f"{out}/vectors").count() == 4


def test_streaming_semantic_fold_two_level_equals_batch(spark, tmp_path):
    """two_level=True folds with the coarse-quantized assignment (the
    C ∝ n scale path) and still closes to EXACTLY the batch rule at
    the same setting — on the real sf0.001 embeddings, where the
    two assignments genuinely differ on borderline vectors."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        similarity,
    )
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.sampled_centroids(emb, n_centroids=16)
    store = str(tmp_path / "sem2l")
    semantic_stream.init_semantic_store(cents, store, two_level=True)
    for b in range(3):
        semantic_stream.process_semantic_batch(
            emb.filter(F.pmod(F.col("vec_id"), F.lit(3)) == b), b, store,
            threshold=0.3)
    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    got = key(semantic_stream.semantic_groups(spark, store))
    batch = key(similarity.semantic_dedup(emb, cents, threshold=0.3,
                                          two_level=True))
    assert got == batch
    # and it differs from the FLAT batch rule somewhere (otherwise this
    # test proves nothing about the two-level path specifically)
    flat = key(similarity.semantic_dedup(emb, cents, threshold=0.3))
    assert got != flat


def test_semantic_store_marker_corrupt_fails_loudly(spark, tmp_path):
    """A crash between the marker's create and close leaves an
    empty/partial meta.json; folding against such a store must fail
    with the remedy, not json noise or a silent flat-rule default."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        semantic_stream,
    )

    _, store = _sem_store(spark, tmp_path)
    assert semantic_stream._store_two_level(spark, store) is False
    (tmp_path / "semstore" / "meta.json").write_text("")
    with pytest.raises(ValueError, match="corrupt"):
        semantic_stream.process_semantic_batch(
            _sem_df(spark, _sem_vectors()[0]), 0, store, threshold=0.9)


def test_corpus_sink_bpe_counts_fold_equals_batch(spark, tmp_path):
    """bpe_counts=True (VERDICT r10 item 6): the streamed corpus carries
    real merge-table BPE token counts per surviving doc, and the fold
    equals the batch path — tokenize.bpe_token_counts over the union of
    all drops gives the SAME n_bpe_tokens for every survivor, mirroring
    how q132's stream fold equals q125's batch rule."""
    import json as _json

    from real_time_iot_data_pipeline_project_spark.operators import tokenize
    from real_time_iot_data_pipeline_project_spark.streaming import curation

    rows1 = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy "
                              "dog and then runs far away " * 3,
         "lang": "en", "source": "s1",
         "event_time": "2026-01-01T10:00:00"},
        {"doc_id": 2, "text": "a clearly different document about the "
                              "weather and the seasons at length " * 2,
         "lang": "en", "source": "s1",
         "event_time": "2026-01-01T10:01:00"},
    ]
    rows2 = [
        {"doc_id": 3, "text": "another genuinely new document describing "
                              "checkpointed streaming state stores " * 2,
         "lang": "en", "source": "s2",
         "event_time": "2026-01-01T10:05:00"},
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))

    sink = str(tmp_path / "corpus")
    q = curation.start_near_dedup_corpus_sink(
        curation.read_doc_stream(spark, str(src)),
        sink, str(tmp_path / "ckpt"), str(tmp_path / "sigs"),
        threshold=0.7, available_now=True, bpe_counts=True,
    )
    q.awaitTermination(120)

    streamed = {r.doc_id: r.n_bpe_tokens
                for r in spark.read.parquet(sink)
                .select("doc_id", "n_bpe_tokens").collect()}
    assert set(streamed) == {1, 2, 3}

    union = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows1 + rows2],
        ["doc_id", "text"])
    batch = {r.doc_id: r.n_bpe_tokens
             for r in tokenize.bpe_token_counts(spark, union).collect()}
    assert streamed == {d: batch[d] for d in streamed}
    assert all(v > 0 for v in streamed.values())


# --------------------------------------------------- streaming NB fold

def _nb_docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string")


def test_streaming_nb_fold_equals_batch(spark, tmp_path):
    """X54: the store-folded model over any batching equals batch
    nb_train on the concatenated corpus — classification downstream is
    identical (the q150 gate's claim, pinned here directly), replay of
    a completed batch is idempotent, and empty batches are no-ops."""
    from real_time_iot_data_pipeline_project_spark.operators import classify
    from real_time_iot_data_pipeline_project_spark.streaming import (
        classify_stream,
    )

    rows = [(i, f"tok{i % 7} tok{i % 3} common", ["de", "fr"][i % 2])
            for i in range(30)]
    store = str(tmp_path / "nb_store")
    for b in range(3):
        classify_stream.process_nb_batch(
            _nb_docs(spark, [r for r in rows if r[0] % 3 == b]), b,
            store, label_col="lang")
    # replay of batch 1 (checkpoint recovery) + an empty batch
    classify_stream.process_nb_batch(
        _nb_docs(spark, [r for r in rows if r[0] % 3 == 1]), 1,
        store, label_col="lang")
    classify_stream.process_nb_batch(_nb_docs(spark, []), 3, store,
                                     label_col="lang")

    counts, dc = classify_stream.nb_store_model(spark, store)
    full = _nb_docs(spark, rows)
    want_counts = {(r.label, r.tok): r.c for r in
                   classify.nb_train(full, "lang").collect()}
    got_counts = {(r.label, r.tok): r.c for r in counts.collect()}
    assert got_counts == want_counts
    assert {r.label: r.n_docs for r in dc.collect()} == \
        {r.label: r.n_docs for r in
         classify.nb_doc_counts(full, "lang").collect()}

    test = _nb_docs(spark, [(100, "tok1 common zzz", "x")])
    got = classify_stream.classify_from_store(spark, store,
                                              test).collect()
    want = classify.nb_classify(
        test, classify.nb_train(full, "lang"),
        classify.nb_doc_counts(full, "lang")).collect()
    assert [(r.doc_id, r.label, r.score) for r in got] == \
        [(r.doc_id, r.label, r.score) for r in want]


def test_streaming_nb_sink_engine_equals_direct(spark, tmp_path):
    """availableNow stream-engine run == direct foreachBatch-body
    invocation (the equivalence q150's direct-drive gate builds on)."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        classify_stream,
    )

    rows = [(i, f"w{i % 5} w{i % 2}", ["en", "es", "de"][i % 3])
            for i in range(24)]
    src = tmp_path / "nb_in"
    src.mkdir()
    for b in range(3):
        _nb_docs(spark, [r for r in rows if r[0] % 3 == b]) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(src / f"b{b}.parquet"))

    stream_store = str(tmp_path / "s1")
    docs = (spark.readStream
            .schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*/"))
    q = classify_stream.start_nb_train_sink(
        docs, str(tmp_path / "ckpt"), stream_store, label_col="lang")
    q.awaitTermination(120)

    direct_store = str(tmp_path / "s2")
    for b in range(3):
        classify_stream.process_nb_batch(
            _nb_docs(spark, [r for r in rows if r[0] % 3 == b]), b,
            direct_store, label_col="lang")

    sc, sd = classify_stream.nb_store_model(spark, stream_store)
    dc_, dd = classify_stream.nb_store_model(spark, direct_store)
    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(sc) == key(dc_) and key(sd) == key(dd)


# --------------------------------------------------- streaming DSIR fold

def _dsir_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_streaming_dsir_fold_equals_batch(spark, tmp_path):
    """X59: the store-folded pool model over any batching equals the
    batch model on the concatenated pool — downstream DSIR scores are
    identical (the q156 gate's claim, pinned here directly), replay of
    a completed batch is idempotent, and empty batches are no-ops."""
    from real_time_iot_data_pipeline_project_spark.operators import textops
    from real_time_iot_data_pipeline_project_spark.streaming import (
        dsir_stream,
    )

    rows = [(i, f"w{i % 7} w{i % 3} common phrase") for i in range(30)]
    store = str(tmp_path / "dsir_store")
    B = 200
    for b in range(3):
        dsir_stream.process_dsir_batch(
            _dsir_docs(spark, [r for r in rows if r[0] % 3 == b]), b,
            store, n_buckets=B)
    # replay of batch 1 (checkpoint recovery) + an empty batch
    dsir_stream.process_dsir_batch(
        _dsir_docs(spark, [r for r in rows if r[0] % 3 == 1]), 1,
        store, n_buckets=B)
    dsir_stream.process_dsir_batch(_dsir_docs(spark, []), 3, store,
                                   n_buckets=B)

    full = _dsir_docs(spark, rows)
    want_pool = {r.bucket: r.c_g for r in
                 textops._hashed_ngram_features(full, "text", [], B)
                 .groupBy("bucket").agg(F.count(F.lit(1)).alias("c_g"))
                 .collect()}
    got_pool = {r.bucket: r.c_g for r in
                dsir_stream.dsir_pool_counts(spark, store).collect()}
    assert got_pool == want_pool

    seed = full.where(F.col("doc_id") % 5 == 0)
    got = dsir_stream.dsir_scores_from_store(
        spark, store, full, seed, n_buckets=B).collect()
    want = textops.dsir_scores(full, seed, n_buckets=B).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_dsir_sink_engine_equals_direct(spark, tmp_path):
    """availableNow stream-engine run == direct foreachBatch-body
    invocation (the equivalence q156's direct-drive gate builds on)."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        dsir_stream,
    )

    rows = [(i, f"w{i % 5} w{i % 2} shared") for i in range(24)]
    src = tmp_path / "dsir_in"
    src.mkdir()
    for b in range(3):
        _dsir_docs(spark, [r for r in rows if r[0] % 3 == b]) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(src / f"b{b}.parquet"))

    stream_store = str(tmp_path / "ds1")
    docs = (spark.readStream
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*/"))
    q = dsir_stream.start_dsir_pool_sink(
        docs, str(tmp_path / "dsir_ckpt"), stream_store, n_buckets=100)
    q.awaitTermination(120)

    direct_store = str(tmp_path / "ds2")
    for b in range(3):
        dsir_stream.process_dsir_batch(
            _dsir_docs(spark, [r for r in rows if r[0] % 3 == b]), b,
            direct_store, n_buckets=100)

    key = lambda d: sorted(map(tuple, d.collect()))  # noqa: E731
    assert key(dsir_stream.dsir_pool_counts(spark, stream_store)) \
        == key(dsir_stream.dsir_pool_counts(spark, direct_store))


def test_streaming_index_append_fold_and_replay(spark, tmp_path):
    """X65: an index grown by micro-batches equals the batch build
    with the base's PINNED centroids and codebooks (q163's gate
    claim, pinned here directly); a replayed batch is idempotent
    (the ingest_id dynamic-overwrite contract — no duplicate rows);
    empty batches are no-ops."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        ann_index,
    )
    from real_time_iot_data_pipeline_project_spark.streaming import (
        ann_stream,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    incr = emb.where(F.col("vec_id") % 5 == 0)
    grown = str(tmp_path / "grown")
    ann_index.build_index(base, grown, n_centroids=8, pq_m=4, pq_kc=4)
    for b in range(2):
        ann_stream.process_index_batch(
            incr.filter(F.pmod(F.col("vec_id"), F.lit(2)) == b), b,
            grown)
    # checkpoint replay of batch 0 + an empty batch: both no-ops
    ann_stream.process_index_batch(
        incr.filter(F.pmod(F.col("vec_id"), F.lit(2)) == 0), 0, grown)
    ann_stream.process_index_batch(incr.limit(0), 7, grown)
    n_total = emb.count()
    assert spark.read.parquet(f"{grown}/data").count() == n_total
    assert spark.read.parquet(f"{grown}/pq/codes").count() == n_total

    rebuilt = str(tmp_path / "rebuilt")
    ann_index.build_index(
        emb, rebuilt,
        centroids=spark.read.parquet(f"{grown}/centroids"),
        pq_m=4, pq_kc=4,
        pq_codebooks=spark.read.parquet(f"{grown}/pq/codebooks"))
    q = (emb.where(F.col("vec_id").isin(0, 3))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    got = sorted(ann_index.search_index_pq(spark, grown, q, k=8,
                                           nprobe=3).collect())
    want = sorted(ann_index.search_index_pq(spark, rebuilt, q, k=8,
                                            nprobe=3).collect())
    assert got == want
    # the float path serves the grown store identically too
    got_f = sorted(ann_index.search_index_batch(spark, grown, q, k=8,
                                                nprobe=3).collect())
    want_f = sorted(ann_index.search_index_batch(spark, rebuilt, q,
                                                 k=8,
                                                 nprobe=3).collect())
    assert got_f == want_f


def test_streaming_index_sink_engine_equals_direct(spark, tmp_path):
    """availableNow stream-engine run == direct foreachBatch-body
    invocation (the equivalence q163's direct-drive gate builds on):
    both grown stores answer searches identically regardless of how
    the engine batched the increments."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        ann_index,
    )
    from real_time_iot_data_pipeline_project_spark.streaming import (
        ann_stream,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 5 != 0)
    incr = emb.where(F.col("vec_id") % 5 == 0)
    src = tmp_path / "vec_in"
    src.mkdir()
    for b in range(2):
        (incr.filter(F.pmod(F.col("vec_id"), F.lit(2)) == b)
         .coalesce(1).write.mode("overwrite")
         .parquet(str(src / f"b{b}.parquet")))

    streamed = str(tmp_path / "streamed")
    ann_index.build_index(base, streamed, n_centroids=8, pq_m=4,
                          pq_kc=4)
    vec_stream = (spark.readStream
                  .schema("vec_id long, embedding array<float>, "
                          "label int")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*/"))
    qh = ann_stream.start_index_append_sink(
        vec_stream, str(tmp_path / "idx_ckpt"), streamed)
    qh.awaitTermination(120)

    direct = str(tmp_path / "direct")
    ann_index.build_index(base, direct, n_centroids=8, pq_m=4, pq_kc=4)
    for b in range(2):
        ann_stream.process_index_batch(
            incr.filter(F.pmod(F.col("vec_id"), F.lit(2)) == b), b,
            direct)

    q = (emb.where(F.col("vec_id").isin(0, 3))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    got = sorted(ann_index.search_index_pq(spark, streamed, q, k=8,
                                           nprobe=3).collect())
    want = sorted(ann_index.search_index_pq(spark, direct, q, k=8,
                                            nprobe=3).collect())
    assert got == want


# ----------------------------------------------- streaming LM fold (X81)

def test_streaming_lm_fold_equals_batch(spark, tmp_path):
    """X81: the store-folded LM over any batching equals
    ngram_lm_train on the concatenated reference — downstream scores
    are identical (the q179 gate's claim, pinned here directly),
    replay of a completed batch is idempotent, and empty batches are
    no-ops."""
    from real_time_iot_data_pipeline_project_spark.operators import textops
    from real_time_iot_data_pipeline_project_spark.streaming import (
        lm_stream,
    )

    rows = [(i, f"a b w{i % 4} a c w{i % 3}") for i in range(24)]
    ref = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "lm_store")
    for b in range(3):
        lm_stream.process_lm_batch(
            ref.where(F.col("doc_id") % 3 == b), b, store)
    # replay of batch 1 (checkpoint recovery) + an empty batch
    lm_stream.process_lm_batch(
        ref.where(F.col("doc_id") % 3 == 1), 1, store)
    lm_stream.process_lm_batch(ref.where(F.lit(False)), 3, store)

    # NULL prev marks the unigram tier — sentinel it for sorting
    key = lambda d: sorted(  # noqa: E731
        tuple("" if v is None else v for v in r) for r in d.collect())
    assert key(lm_stream.lm_from_store(spark, store)) \
        == key(textops.ngram_lm_train(ref))

    docs = spark.createDataFrame(
        [(100, "a b a c"), (101, "c a x y")],
        "doc_id long, text string")
    got = lm_stream.ngram_lm_scores_from_store(spark, store, docs)
    want = textops.ngram_lm_scores(docs, textops.ngram_lm_train(ref))
    assert key(got) == key(want)


def test_streaming_lm_sink_engine_equals_direct(spark, tmp_path):
    """availableNow stream-engine run == direct foreachBatch-body
    invocation (the equivalence q179's direct-drive gate builds on)."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        lm_stream,
    )

    rows = [(i, f"p q r{i % 5} p s") for i in range(18)]
    ref = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "lm_in"
    src.mkdir()
    for b in range(3):
        ref.where(F.col("doc_id") % 3 == b).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"b{b}.parquet"))

    stream_store = str(tmp_path / "lm1")
    stream = (spark.readStream
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*/"))
    q = lm_stream.start_lm_sink(stream, str(tmp_path / "lm_ckpt"),
                                stream_store)
    q.awaitTermination(120)

    direct_store = str(tmp_path / "lm2")
    for b in range(3):
        lm_stream.process_lm_batch(
            ref.where(F.col("doc_id") % 3 == b), b, direct_store)

    key = lambda d: sorted(  # noqa: E731
        tuple("" if v is None else v for v in r) for r in d.collect())
    assert key(lm_stream.lm_from_store(spark, stream_store)) \
        == key(lm_stream.lm_from_store(spark, direct_store))
