"""Streaming DSIR pool fold (X59): X56's importance-weight model kept
fresh as the POOL grows — the curation scenario where the general
corpus arrives as a stream (crawl snapshots, ingestion batches) while
the in-domain seed is a fixed slice.

Why it folds exactly: the DSIR pool model IS one integer table of
hashed-ngram bucket counts, and integer counts are exactly mergeable —
each micro-batch appends its OWN bucket counts under a batch_id-keyed
overwrite directory (the q130/q150 exactly-once contract: a
checkpoint replay rewrites its own partition idempotently and can
never double-count) and the model read sums them.  A pool folded from
ANY batching equals ``dsir_scores``' internal model on the
concatenated pool bit-for-bit, so downstream selection is IDENTICAL —
the q156 oracle is literally q153's SQL (the q150 fold==batch
precedent at DSIR tier).

Scale: per-batch cost is one map-side hashed feature explode + one
bucket-keyed partial-aggregatable count (≤ n_buckets rows written per
batch); the read is one bucket-keyed sum over the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import _hashed_ngram_features, dsir_scores

_POOL_SCHEMA = "bucket bigint, c_g long"


def process_dsir_batch(batch_df: DataFrame, batch_id: int, store: str,
                       text_col: str = "text",
                       n_buckets: int = 10_000) -> None:
    """One micro-batch of the pool fold (module-level so the replay
    test and the hash-gated registry query drive it directly with
    pinned batch_ids — the q130/q150 pattern).  Writes the batch's OWN
    bucket counts; nothing reads the store during a fold, so
    idempotence is the overwrite itself."""
    if not batch_df.head(1):
        return
    counts = (_hashed_ngram_features(batch_df, text_col, [], n_buckets)
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("c_g"))
              .select(F.col("bucket").cast("bigint"),
                      F.col("c_g").cast("long")))
    counts.write.mode("overwrite").parquet(
        f"{store}/pool/batch_id={batch_id}")


def dsir_pool_counts(spark: SparkSession, store: str) -> DataFrame:
    """(bucket, c_g) folded over every batch in the store — one
    partial-aggregatable sum over a pinned-schema read (a
    crash-mid-first-batch store neither wedges nor miscounts)."""
    return (spark.read.schema(_POOL_SCHEMA)
            .parquet(f"{store}/pool")
            .groupBy("bucket").agg(F.sum("c_g").alias("c_g")))


def dsir_scores_from_store(spark: SparkSession, store: str,
                           docs: DataFrame, seed: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           n_buckets: int = 10_000) -> DataFrame:
    """X56's dsir_scores under the stream-folded pool model — equals
    the batch computation on the concatenated pool, because the folded
    integers ARE that model (the q156 hash gate's claim)."""
    return dsir_scores(docs, seed, text_col=text_col, id_col=id_col,
                       n_buckets=n_buckets,
                       pool_counts=dsir_pool_counts(spark, store))


def start_dsir_pool_sink(docs_stream: DataFrame, checkpoint: str,
                         store: str, text_col: str = "text",
                         n_buckets: int = 10_000,
                         available_now: bool = True):
    """Attach the fold to a streaming DataFrame via foreachBatch — the
    engine drives process_dsir_batch with its own batch_ids (replay
    idempotence by the overwrite contract)."""
    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        process_dsir_batch(batch_df, batch_id, store,
                           text_col=text_col, n_buckets=n_buckets)

    writer = (docs_stream.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint)
              .foreachBatch(_fold))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
