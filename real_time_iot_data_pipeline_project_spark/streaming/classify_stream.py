"""Streaming Naive Bayes training fold (X54): X53's classifier
trained from a document STREAM — the curation pipeline's "keep the
classifier fresh as the corpus grows" tier.

Why it folds exactly: a multinomial NB model IS two integer count
tables ((label, tok) token counts and (label) doc counts), and
integer counts are exactly mergeable — so each micro-batch appends
its own counts to a batch_id-keyed store, and the model read sums
them.  A model folded from any batching of the corpus equals the
batch ``nb_train``/``nb_doc_counts`` on the concatenated corpus
bit-for-bit, so classification downstream is IDENTICAL — the q150
oracle is literally q149's SQL (the q130 fold==batch precedent).

Exactly-once: every write is a batch_id-keyed overwrite directory
(the q130 contract) — a checkpoint replay rewrites its own
partition idempotently and can never double-count.  Labels are cast
to string in the store (one pinned schema for the wedge-free
first-batch-crash read, the q130 contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import classify

_COUNTS_SCHEMA = "label string, tok string, c long"
_DOCS_SCHEMA = "label string, n_docs long"


def process_nb_batch(batch_df: DataFrame, batch_id: int, store: str,
                     label_col: str = "label",
                     text_col: str = "text") -> None:
    """One micro-batch of the NB training fold (module-level so the
    replay test and the hash-gated registry query drive it directly
    with pinned batch_ids — the q130 pattern).  Writes the batch's
    OWN counts under batch_id-keyed dirs; nothing reads the store, so
    there is no replay-exclusion subtlety — idempotence is the
    overwrite itself."""
    if not batch_df.head(1):
        return
    counts = (classify.nb_train(batch_df, label_col, text_col)
              .withColumn("label", F.col("label").cast("string")))
    dc = (classify.nb_doc_counts(batch_df, label_col)
          .withColumn("label", F.col("label").cast("string")))
    counts.write.mode("overwrite").parquet(
        f"{store}/counts/batch_id={batch_id}")
    dc.write.mode("overwrite").parquet(
        f"{store}/docs/batch_id={batch_id}")


def nb_store_model(spark: SparkSession,
                   store: str) -> tuple[DataFrame, DataFrame]:
    """(counts, doc_counts) folded over every batch in the store —
    two partial-aggregatable sums over pinned-schema reads (a
    crash-mid-first-batch store neither wedges nor miscounts)."""
    counts = (spark.read.schema(_COUNTS_SCHEMA)
              .parquet(f"{store}/counts")
              .groupBy("label", "tok").agg(F.sum("c").alias("c")))
    dc = (spark.read.schema(_DOCS_SCHEMA)
          .parquet(f"{store}/docs")
          .groupBy("label").agg(F.sum("n_docs").alias("n_docs")))
    return counts, dc


def classify_from_store(spark: SparkSession, store: str,
                        docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """X53's nb_classify under the stream-folded model — equals batch
    classification under nb_train of the concatenated stream, because
    the folded integers ARE that model (the hash gate's claim)."""
    counts, dc = nb_store_model(spark, store)
    return classify.nb_classify(docs, counts, dc,
                                text_col=text_col, id_col=id_col)


def start_nb_train_sink(docs_stream: DataFrame, checkpoint: str,
                        store: str, label_col: str = "label",
                        text_col: str = "text",
                        available_now: bool = True):
    """Attach the fold to a streaming DataFrame via foreachBatch —
    the engine drives process_nb_batch with its own batch_ids (replay
    idempotence by the overwrite contract)."""
    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        process_nb_batch(batch_df, batch_id, store,
                         label_col=label_col, text_col=text_col)

    writer = (docs_stream.writeStream.outputMode("update")
              .option("checkpointLocation", checkpoint)
              .foreachBatch(_fold))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
