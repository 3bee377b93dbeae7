"""The streaming transform pipeline — entry point B (SURVEY.md §3.2).

Replicates the reference's own Databricks notebook job
(``Azure/transformation in databricks in azure.docx``):

    readStream → CAST(value AS STRING) → from_json(schema) → flatten
    → range-filter → fillna → dedup → derive → writeStream parquet
    + checkpoint, outputMode append

with two deliberate upgrades over the reference (SURVEY.md §4.2):

1. **Watermarked dedup** — the reference's streaming ``dropDuplicates``
   runs with unbounded state (T3); we bound it with
   ``withWatermark + dropDuplicatesWithinWatermark``. Semantic delta
   (documented): duplicates arriving later than the watermark are no
   longer dropped.
2. **Kafka-shape source abstraction** — Event Hubs in the reference is
   consumed through its Kafka-protocol endpoint, so one ``format("kafka")``
   source covers both; tests use a file source with the same
   (value: string) shape.

Scale notes: the whole transform is narrow except the dedup shuffle on
(station_id, timestamp). Sink partitioned by station_id/date → partition
pruning for every per-station or per-day downstream query.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..operators import cleaning, features

DEFAULT_WATERMARK = "10 minutes"


def parse_json_stream(raw: DataFrame, schema: T.StructType,
                      value_col: str = "value") -> DataFrame:
    """S5/S6 — CAST(value AS STRING) → from_json → flatten
    (docx §solar:parsed_df: select("jsonData.*"))."""
    return (
        raw.select(F.col(value_col).cast("string").alias("message"))
        .withColumn("jsonData", F.from_json("message", schema))
        .select("jsonData.*")
    )


def stream_transform(parsed: DataFrame, domain: str,
                     watermark: str | None = DEFAULT_WATERMARK) -> DataFrame:
    """The domain's clean+derive on a stream (docx §solar:
    validation_spark + create_col_spark, §wind:clean_df + derived
    columns). Order per docx §wind: filter → fillna → dedup → derive."""
    df = cleaning.validate(parsed, domain)
    if watermark:
        df = df.withWatermark("timestamp", watermark)
        df = df.dropDuplicatesWithinWatermark(schemas.DEDUP_KEYS)
    else:
        df = df.dropDuplicates(schemas.DEDUP_KEYS)
    return features.featurize(df, domain)


_transform = stream_transform
solar_stream_transform = partial(stream_transform, domain="solar")
wind_stream_transform = partial(stream_transform, domain="wind")


def _trigger(writer, processing_time: str | None, available_now: bool):
    """Apply the caller's trigger choice, refusing conflicting requests:
    DataStreamWriter keeps only the LAST trigger() call, so passing both
    would silently drop processingTime — mirror Spark's own one-trigger
    rule and fail loudly instead."""
    if processing_time and available_now:
        raise ValueError(
            "pass either processing_time or available_now, not both — "
            "a stream has exactly one trigger")
    if processing_time:
        return writer.trigger(processingTime=processing_time)
    if available_now:
        return writer.trigger(availableNow=True)
    return writer


def start_parquet_sink(df: DataFrame, path: str, checkpoint: str,
                       available_now: bool = False,
                       partition_by: list[str] | None = None):
    """S10 — parquet streaming sink + checkpoint, append mode (docx
    §solar:query). ``available_now`` drains all pending input then stops
    (the test/batch-replay trigger). Default partitioning by station —
    at 100 TB add date for two-level pruning."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .partitionBy(*(partition_by or ["station_id"]))
    )
    return _trigger(w, None, available_now).start()


def start_alert_stream(df: DataFrame, power_col: str, threshold: float,
                       require_positive_col: str | None = None,
                       processing_time: str | None = None,
                       available_now: bool = False):
    """T6/P11 — threshold alerting (power < threshold → alert row;
    solar also requires irradiance > 0, Solar_Generation.py:289-290).
    Emits to an in-memory sink named 'alerts' (swap for kafka/webhook
    foreachBatch in production)."""
    pred = F.col(power_col) < threshold
    if require_positive_col:
        pred = pred & (F.col(require_positive_col) > 0)
    alerts = df.filter(pred).withColumn("alert_ts", F.current_timestamp())
    w = alerts.writeStream.format("memory").queryName("alerts").outputMode("append")
    return _trigger(w, processing_time, available_now).start()


def start_console_sink(df: DataFrame, num_rows: int = 20, truncate: bool = True,
                       processing_time: str | None = None,
                       available_now: bool = False):
    """S12 — console debug sink (docx §wind:query_raw last cell:
    ``writeStream.format("console")``). Debug-only: prints each
    micro-batch to the driver's stdout; never a production sink."""
    w = (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .outputMode("append")
    )
    return _trigger(w, processing_time, available_now).start()


def active_stream_status(spark: SparkSession) -> list[dict]:
    """S13 — stream monitoring (docx §wind last cell:
    ``for q in spark.streams.active: print(q.name, q.status)``): one dict
    per active query with name/id/status/recent progress."""
    out = []
    for q in spark.streams.active:
        prog = q.lastProgress
        out.append(
            {
                "name": q.name,
                "id": str(q.id),
                "is_active": q.isActive,
                "status": dict(q.status) if q.status else None,
                "batch_id": prog.get("batchId") if prog else None,
                "num_input_rows": prog.get("numInputRows") if prog else None,
            }
        )
    return out


def start_grouped_agg_stream(df: DataFrame, group_cols: list[str],
                             aggs: list[F.Column], query_name: str,
                             output_mode: str = "update",
                             processing_time: str | None = None,
                             available_now: bool = False):
    """T7 — streaming grouped aggregate with ``update``/``complete``
    output (A1 per-station totals on a live stream — the dashboard
    panels fed incrementally instead of by batch rescan). ``update``
    emits only the groups whose aggregate changed in each micro-batch;
    sink here is the in-memory table ``query_name`` (swap for a
    foreachBatch upsert in production)."""
    w = (
        df.groupBy(*group_cols).agg(*aggs)
        .writeStream.format("memory").queryName(query_name)
        .outputMode(output_mode)
    )
    return _trigger(w, processing_time, available_now).start()


def start_foreach_batch_sink(df: DataFrame, batch_fn, checkpoint: str | None = None,
                             output_mode: str = "append",
                             processing_time: str | None = None,
                             available_now: bool = False):
    """Production sink escape hatch: run arbitrary batch logic per
    micro-batch (idempotent upsert, JDBC, webhook, snapshot refresh).
    ``batch_fn(batch_df, batch_id)`` — batch_id is monotonically
    increasing and replay-stable, the dedup key for exactly-once sinks."""
    w = df.writeStream.foreachBatch(batch_fn).outputMode(output_mode)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return _trigger(w, processing_time, available_now).start()


def latest_snapshot_writer(path: str):
    """``batch_fn`` for a live-dashboard serving table: overwrite a
    parquet snapshot with each complete-mode micro-batch (readers always
    see the latest full aggregate — the streaming twin of the dashboard's
    batch rescan)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(path)

    return fn


def read_kafka_stream(spark: SparkSession, brokers: str, topic: str,
                      starting_offsets: str = "earliest") -> DataFrame:
    """S3 — Kafka streaming source (Solar_Processing.py:61-84 semantics:
    earliest/latest offset control; bounded reads via
    trigger(availableNow) or maxOffsetsPerTrigger)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def kafka_payload(df: DataFrame, key_col: str = "station_id") -> DataFrame:
    """The (key, value) projection a Kafka sink requires: key =
    ``key_col`` as string (hash co-location on the broker side), value =
    JSON of every column. Split out from ``write_kafka_sink`` so the
    projection is batch-testable without a broker or the kafka
    connector jar."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def write_kafka_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str,
                     key_col: str = "station_id"):
    """S2 — keyed Kafka sink: key=station_id (hash co-location, the wind
    producer's partitioning strategy, Wind_Genration.py:85-89), value =
    JSON of all columns. Structured Streaming checkpointing supplies the
    at-least-once the reference configured by hand (acks=all)."""
    return (
        kafka_payload(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def join_streams_interval(left: DataFrame, right: DataFrame, key: str,
                          ts_col: str, within_seconds: int,
                          watermark: str = DEFAULT_WATERMARK,
                          suffixes: tuple[str, str] = ("_l", "_r")) -> DataFrame:
    """Watermarked stream-stream interval join (T-tier completion): pair
    every left event with the right events of the same ``key`` whose
    timestamp falls in ``[left.ts, left.ts + within_seconds]`` — the
    attribution shape (click → purchase within N minutes) and the
    sensor-fusion shape (reading → nearby reading on another channel).

    Both sides carry a watermark and the join condition carries BOTH
    time bounds; together they let Spark compute how long each side's
    state can matter and evict it — without the time-range condition a
    stream-stream join buffers forever (the unbounded-state trap).
    State bound per key: ``watermark + within_seconds`` of events on
    each side. Inner join only: stream-stream outer joins emit their
    null rows when the watermark passes, which an availableNow batch
    test cannot observe deterministically — callers needing "clicks
    that never converted" should anti-join the SINK table in batch.

    Output columns: ``key``, then every non-key column of each side
    suffixed with ``suffixes``. The same callable works on batch
    DataFrames (Spark plans a plain interval join; watermark is a no-op
    in batch) — which is exactly how the e2e test establishes the
    batch-equivalence oracle.
    """
    sl, sr = suffixes
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}")
           + F.expr(f"INTERVAL {int(within_seconds)} SECONDS"))
    )
    lcols = [F.col(f"l.{c}").alias(f"{c}{sl}")
             for c in left.columns if c != key]
    rcols = [F.col(f"r.{c}").alias(f"{c}{sr}")
             for c in right.columns if c != key]
    return lw.join(rw, cond, "inner").select(F.col(f"l.{key}").alias(key),
                                             *lcols, *rcols)
