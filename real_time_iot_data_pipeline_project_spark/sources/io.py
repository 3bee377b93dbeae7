"""Batch readers/writers (SURVEY.md §2.1 S7-S11, S14).

Thin, opinionated wrappers: explicit schemas where the reference declares
them, header CSV semantics matching the reference's append logs, parquet
with partition columns for pruning at scale.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import schemas


def read_raw_csv(spark: SparkSession, path: str,
                 schema: T.StructType | None = None) -> DataFrame:
    """S8 — CSV batch source with header (pd.read_csv upload path).
    With an explicit schema Spark skips the inference scan — always pass
    one in production (the reference's fixed field lists are the schema)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_log(spark: SparkSession, path: str, domain: str) -> DataFrame:
    """A domain's append-log CSV in its raw schema's field order
    (Solar_Generation.py:155-169, Wind_Genration.py:57-79)."""
    return read_raw_csv(spark, path, schemas.DOMAINS[domain].raw_schema)


read_solar_log = partial(read_log, domain="solar")
read_wind_log = partial(read_log, domain="wind")


def write_processed_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S9 — processed CSV sink (to_csv index=False equivalent)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_processed_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                            partition_by: list[str] | None = None) -> None:
    """Processed parquet sink, partitioned for pruning (station_id is the
    reference's Kafka key — the natural partition column)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def append_log_csv(df: DataFrame, path: str) -> None:
    """S7 — CSV append sink (DictWriter append semantics; header-once is
    handled by directory-of-parts semantics + header option)."""
    df.write.mode("append").option("header", True).csv(path)


def write_jsonl_shards(df: DataFrame, path: str, n_shards: int | None = None,
                       mode: str = "overwrite",
                       compression: str | None = None) -> None:
    """S16 — JSONL export sink: newline-delimited JSON, the interchange
    format training pipelines consume. One file per shard
    (``repartition(n_shards)`` — omit to keep the upstream layout);
    optional codec ('gzip'/'zstd'/...) for wire-size-sensitive
    handoffs. Spark's native json writer: each row is one JSON object
    per line, written in parallel — never a driver-side serialize."""
    w = df.repartition(n_shards) if n_shards is not None else df
    writer = w.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType | str | None = None) -> DataFrame:
    """S16 — JSONL batch source. Pass the schema in production (the
    export wrote a known one) so Spark skips the inference scan; Spark
    reads compressed parts transparently."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """S17 — idempotent partition backfill (dynamic partition
    overwrite): rewrite ONLY the partitions present in ``df``, leaving
    every other partition untouched — the reprocess-a-date-range
    pattern. A plain ``mode("overwrite")`` with static overwrite
    semantics would DELETE the whole dataset first; the dynamic option
    scopes the overwrite to the incoming partition values, so the same
    backfill can be re-run safely (idempotent) and two backfills of
    disjoint ranges compose. At 100 TB this is how corrections ship:
    recompute the affected day/source partitions, swap them in place,
    never touch the rest."""
    if not partition_by:
        raise ValueError("overwrite_partitions requires partition columns"
                         " — for a full rewrite use mode('overwrite')")
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by)
     .parquet(path))


def write_bucketed_table(df: DataFrame, table: str, bucket_cols: list[str],
                         n_buckets: int = 32,
                         sort_cols: list[str] | None = None,
                         mode: str = "overwrite") -> None:
    """Bucketed managed table: rows are hash-partitioned into
    ``n_buckets`` files per partition by ``bucket_cols`` AT WRITE TIME,
    so every later groupBy/join on those columns reads pre-shuffled data
    — the Exchange disappears from the plan (asserted in
    tests/test_plans.py). THE technique for a fact table that is
    repeatedly joined/aggregated on the same key at 100 TB: pay the
    shuffle once at ingest, never again.

    Uses saveAsTable (bucketing metadata lives in the catalog; plain
    ``.parquet(path)`` cannot record it). Optional ``sort_cols`` gives
    sort-merge-free joins between co-bucketed tables."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_parquet(spark: SparkSession, path: str, target_files: int,
                    partition_by: list[str] | None = None) -> int:
    """Small-files compaction for streaming sink output: a micro-batch
    parquet sink accretes one file per trigger per partition; readers
    then pay per-file open cost. Rewrite to ``target_files`` files via
    read → repartition → write-to-temp → verify → swap. The swap is
    rename-aside (source renamed to ``<path>.compact_old`` before the
    new data moves in), so a crash at any point leaves a complete copy
    of the data on disk under one of the two names — never a window
    where the dataset exists only in a deleted state.

    REFUSES to compact a live Structured Streaming sink directory
    (``_spark_metadata`` present): rewriting the files would invalidate
    the sink's transaction log and break the running stream — stop the
    stream and drop the log first.

    Returns the row count preserved (verified before the swap)."""
    import os
    import shutil
    import tempfile

    if os.path.exists(os.path.join(path, "_spark_metadata")):
        raise RuntimeError(
            f"{path} is a streaming-sink directory (_spark_metadata "
            "present); compacting would invalidate the sink log. Stop "
            "the stream and remove the log before compacting."
        )
    df = spark.read.parquet(path)
    n = df.count()
    tmp = tempfile.mkdtemp(prefix="compact_")
    out = os.path.join(tmp, "data")
    w = df.repartition(target_files).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(out)
    if spark.read.parquet(out).count() != n:  # paranoia before touching source
        raise RuntimeError(f"compaction row mismatch for {path}")
    aside = path.rstrip("/") + ".compact_old"
    os.rename(path, aside)           # atomic on same filesystem
    try:
        shutil.move(out, path)
    except BaseException:
        os.rename(aside, path)       # roll back: original untouched
        raise
    shutil.rmtree(aside)
    shutil.rmtree(tmp, ignore_errors=True)
    return n


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              compression: str = "zlib") -> None:
    """S18 — ORC batch sink (beyond-reference format breadth): the
    columnar interchange format Hive/Trino/Presto warehouses consume.
    Spark-native writer (predicate pushdown, column pruning and
    vectorized reads all apply on the way back in, same as parquet);
    codec: zlib (default) / snappy / zstd / none."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str,
             schema: T.StructType | str | None = None) -> DataFrame:
    """S18 — ORC batch source. Pass ``schema`` (StructType or DDL
    string) to pin the read schema (no inference footer scan), same
    contract as read_jsonl."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
