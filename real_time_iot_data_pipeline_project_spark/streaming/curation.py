"""Streaming corpus ingestion: the training-data curation pipeline as a
Structured Streaming job.

Batch curation (registry q48) assumes the corpus is at rest; real
corpora arrive continuously (crawl drops, partner feeds). This module
runs the same dedup → annotate → filter chain incrementally:

  file/Kafka doc stream
    → event-time watermark + ``dropDuplicatesWithinWatermark`` keyed by
      the content fingerprint (exact dedup with bounded state — the
      streaming twin of operators.dedup.exact_dedup; duplicates arriving
      within the watermark horizon are dropped, state is evicted after)
    → quality / language / token-count annotation (pure Column exprs —
      the identical expressions the batch path uses, so batch and
      stream agree row-for-row)
    → append parquet partitioned by (ingest_date, lang) for downstream
      partition pruning, exactly-once via checkpoint.

Semantics note: streaming exact-dedup keeps the FIRST-ARRIVING doc per
fingerprint inside the watermark horizon, where batch dedup keeps the
min-id doc globally — the standard batch/stream trade: bounded state
buys horizon-scoped dedup. A periodic batch ``exact_dedup`` compaction
over the sink closes the gap (same winner policy from there on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import textfns
from .upsert import _dir_exists

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("event_time", T.TimestampType()),
])


def read_doc_stream(spark, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """S5-twin file source for document JSONL drops (one JSON doc per
    line) — swap for the Kafka reader (streaming.job.read_kafka_stream)
    in production; the transform below is source-agnostic."""
    return (
        spark.readStream.format("json")
        .schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def annotate_and_filter(docs: DataFrame, min_quality: float = 0.45,
                        langs: tuple[str, ...] | None = None) -> DataFrame:
    """The batch-identical annotation + gate chain shared by every
    curation surface (curate_stream, the near-dup foreachBatch sink,
    pipelines.curate_corpus uses the same expressions): quality score,
    language ID, token count, ingest date; keep rows passing the quality
    floor and (when given) the language allowlist."""
    out = (
        docs.withColumn("q", textfns.quality_score("text"))
        .withColumn("detected_lang", textfns.detect_language("text"))
        .withColumn("n_tok", textfns.token_count("text"))
        .withColumn("ingest_date", F.to_date("event_time"))
        .filter(F.col("q") >= min_quality)
    )
    if langs is not None:
        out = out.filter(F.col("detected_lang").isin(*langs))
    return out


def curate_stream(docs: DataFrame, watermark: str = "10 minutes",
                  min_quality: float = 0.45,
                  langs: tuple[str, ...] | None = None) -> DataFrame:
    """Watermarked fingerprint dedup + batch-identical annotation +
    quality gate. Returns the annotated keep-stream.

    ``langs`` mirrors pipelines.curate_corpus: an allowlist of detected
    languages to keep. Default None keeps every language — the sink is
    partitioned by detected_lang, so downstream mix-builders can still
    select languages via partition-pruned reads; pass an explicit tuple
    to make the stream sink row-identical to the batch pipeline's."""
    fp = textfns.fingerprint("text")
    deduped = (
        docs.withColumn("fingerprint", fp)
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    return annotate_and_filter(deduped, min_quality, langs)


def process_corpus_batch(batch_df: DataFrame, batch_id: int, path: str,
                         signature_store: str, threshold: float = 0.7,
                         min_quality: float = 0.45,
                         langs: tuple[str, ...] | None = None,
                         bpe_counts: bool = False) -> None:
    """One micro-batch of the near-dedup corpus sink (module-level so the
    crash-replay test can drive it directly with a pinned batch_id).

    Order of operations: exact-dedup within the batch → annotate + gate →
    near-dedup the GATE-PASSING docs against the store. Gating first
    guarantees a passing doc can never be dropped as a near-dup of a doc
    that itself failed the gate (which would land that content in neither
    the corpus nor the store); the cost is that a failing doc cannot
    "represent" its near-dup cluster — the earliest PASSING doc does.

    ``bpe_counts=True`` (VERDICT r10 item 6) annotates each batch's
    SURVIVORS with real merge-table BPE token counts (``n_bpe_tokens``,
    operators.tokenize.bpe_token_counts — the count-only path, no token
    arrays materialized) before the sink write, closing the gap with the
    batch release pipeline's ``--bpe-manifest``: the streaming corpus
    then carries the same real counts per doc that the batch path would
    compute (fold == batch, pinned by test — counts are a pure function
    of text, so equality holds per doc regardless of batch boundaries).
    Per-trigger cost is one vocabulary-sized recursive encode over the
    batch's distinct words + one count join — increment-sized, like
    every other stage of this sink.

    Exactly-once: every write is keyed by its batch_id directory and uses
    overwrite, so a replayed batch (the checkpoint re-delivers the same
    id after a crash anywhere between the three writes) converges to the
    same bytes instead of appending duplicates — the same idempotency
    pattern as warehouse/incremental.py fact writes. ``localCheckpoint``
    truncates the survivors' lineage before the store writes, so
    appending to the store never re-reads the store it is writing
    (read-while-write on one parquet directory)."""
    from ..operators import dedup as dedup_ops

    spark = batch_df.sparkSession
    if not batch_df.head(1):
        return
    batch = dedup_ops.exact_dedup(batch_df)
    gated = annotate_and_filter(batch, min_quality, langs)

    sigs_path = f"{signature_store}/sigs"
    bands_path = f"{signature_store}/bands"
    if _dir_exists(spark, sigs_path):
        # A replayed batch must NOT probe its own prior contribution
        # (every doc would drop as a near-dup of itself and the replay
        # would overwrite the corpus directory with nothing) — batch_id
        # is the store's partition column, so the exclusion is a pruned
        # partition filter, not a scan.
        base_sigs = (spark.read.parquet(sigs_path)
                     .filter(F.col("batch_id") != F.lit(batch_id))
                     .drop("batch_id"))
        base_bands = ((spark.read.parquet(bands_path)
                       .filter(F.col("batch_id") != F.lit(batch_id))
                       .drop("batch_id"))
                      if _dir_exists(spark, bands_path) else None)
    else:  # first batch: store not created yet
        base_sigs = dedup_ops.minhash_signatures(
            spark.createDataFrame([], batch.schema))
        base_bands = None

    written = dedup_ops.near_dedup_against(
        gated, base_sigs, threshold=threshold, base_band_rows=base_bands)
    if bpe_counts:
        from ..operators import tokenize

        # count-only path: (doc_id, n_bpe_tokens) joined back to the
        # survivors; shuffle_hash like the module's other id join-backs
        # (neither side is sorted)
        cnts = tokenize.bpe_token_counts(spark, written)
        written = written.join(cnts.hint("shuffle_hash"), "doc_id")
    written = written.localCheckpoint(eager=True)
    (written.write.mode("overwrite")
     .partitionBy("ingest_date", "detected_lang")
     .parquet(f"{path}/batch_id={batch_id}"))
    sig_out = dedup_ops.minhash_signatures(written).localCheckpoint(eager=True)
    sig_out.write.mode("overwrite").parquet(f"{sigs_path}/batch_id={batch_id}")
    (dedup_ops.minhash_band_rows(sig_out)
     .write.mode("overwrite").parquet(f"{bands_path}/batch_id={batch_id}"))


def start_near_dedup_corpus_sink(docs: DataFrame, path: str, checkpoint: str,
                                 signature_store: str,
                                 threshold: float = 0.7,
                                 min_quality: float = 0.45,
                                 langs: tuple[str, ...] | None = None,
                                 available_now: bool = False,
                                 bpe_counts: bool = False):
    """Streaming ingestion with cross-batch NEAR-dup dedup: each
    micro-batch is exact-deduped within itself, annotated + gated with
    the batch-identical chain, near-deduped (dedup.near_dedup_against)
    against the MinHash signature store accumulated from every
    previously WRITTEN doc, and written to the corpus sink; the
    survivors' signatures AND their precomputed LSH band rows are
    written to the store (``{store}/sigs``, ``{store}/bands``) so later
    batches probe precomputed buckets — per-trigger cost stays
    increment-sized instead of re-hashing O(corpus) signatures.

    This is the production crawl-increment shape: the corpus text is
    never re-read — each increment costs one banded probe of the
    signature store. foreachBatch because signature computation is a
    grouped aggregation per micro-batch plus a batch join against a
    growing static table, which the continuous-query API cannot express.

    Delivery: exactly-once — see ``process_corpus_batch`` (batch_id-keyed
    overwrite directories make replays idempotent).  ``bpe_counts=True``
    annotates survivors with real BPE token counts per micro-batch —
    see ``process_corpus_batch``."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_corpus_batch(batch_df, batch_id, path, signature_store,
                             threshold, min_quality, langs,
                             bpe_counts=bpe_counts)

    w = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _require_out_of_place(src: str, dst: str, what: str) -> None:
    """Shared guard of every compactor: overwriting a store/corpus
    while lazily reading it races the scan and can destroy it —
    compact out-of-place, validate, then swap pointers. realpath (not
    abspath) so a symlinked alias of the same directory is caught."""
    import os

    if os.path.realpath(dst) == os.path.realpath(src):
        raise ValueError(
            f"output must differ from the {what} being compacted "
            f"({src!r}): compact out-of-place, validate, then swap")


def compact_corpus(spark, corpus_path: str, output_path: str,
                   text_col: str = "text", id_col: str = "doc_id") -> dict:
    """The periodic batch compaction ``curate_stream``'s docstring
    promises: streaming exact-dedup is horizon-scoped (duplicates
    farther apart than the watermark both land in the sink), so a
    periodic global ``exact_dedup`` pass — min-id winner, the batch
    policy — closes the gap and re-establishes corpus-wide uniqueness.

    Out-of-place by design: the compacted corpus lands at
    ``output_path`` (partition columns preserved — they are ordinary
    columns of the read) and the caller swaps paths/pointers after
    validating; an in-place overwrite of a live streaming sink would
    race its writer and destroy data on failure. Returns before/after
    row counts so schedulers can alert on unexpected duplicate rates.

    Scale shape: one fingerprint groupBy (uniform md5 key) + a
    left-semi join — the same linear plan as batch exact_dedup; run it
    at the cadence at which watermark-escaping duplicates actually
    accumulate."""
    import os as _os

    from ..operators import dedup as dedup_ops

    if _os.path.abspath(output_path) == _os.path.abspath(corpus_path):
        raise ValueError(
            "output_path must differ from corpus_path: overwriting the "
            "corpus while lazily reading it races the scan — compact "
            "out-of-place, validate, then swap")
    corpus = spark.read.parquet(corpus_path)
    before = corpus.count()
    deduped = dedup_ops.exact_dedup(corpus, text_col=text_col, id_col=id_col)
    deduped.write.mode("overwrite").parquet(output_path)
    after = spark.read.parquet(output_path).count()
    return {"rows_before": before, "rows_after": after,
            "duplicates_removed": before - after}


def compact_signature_store(spark, corpus_path: str, signature_store: str,
                            output_store: str,
                            id_col: str = "doc_id") -> dict:
    """Signature-store lifecycle companion to ``compact_corpus``: the
    store grows monotonically (one sigs + bands partition per batch;
    docs later removed from the corpus — retention deletes, compaction —
    are never pruned), so a periodic rewrite keeps it aligned with what
    the corpus actually contains. Keeps exactly the signatures and
    precomputed band rows of docs present in ``corpus_path``, preserving
    the ``batch_id`` partition column so the sink's replay-exclusion
    filter (``batch_id != current``) and ``_dir_exists`` checks keep
    working against the compacted store.

    Decision-preservation contract: when the corpus was compacted by
    ``compact_corpus`` (exact dedup — every removed doc has an
    identical-text survivor), pruning cannot change ANY later dedup
    decision: the removed doc's MinHash signature is byte-identical to
    its survivor's, so every probe that matched the removed doc still
    matches the survivor. When docs are removed by retention (no
    surviving twin), later near-dups of the removed content WILL now
    survive — that is the point: the store mirrors the corpus, not its
    history. Out-of-place like compact_corpus: caller validates then
    swaps pointers. Returns per-table before/after row counts.

    Scale shape: two broadcast-or-shuffle left-semi joins on the id —
    linear in store size, no signature recomputation, no corpus text
    read (only the id column is scanned, column-pruned)."""
    _require_out_of_place(signature_store, output_store,
                          "signature store")
    if not _dir_exists(spark, corpus_path):
        raise ValueError(
            f"corpus path {corpus_path!r} is missing or empty — refusing "
            "to compact the store against nothing (that would erase every "
            "signature); if the corpus was fully retired, delete the "
            "store explicitly instead")
    keep = spark.read.parquet(corpus_path).select(id_col).distinct()
    out: dict[str, int] = {}
    for table in ("sigs", "bands"):
        src = f"{signature_store}/{table}"
        if not _dir_exists(spark, src):
            continue
        rows = spark.read.parquet(src)
        out[f"{table}_before"] = rows.count()
        kept = (rows.join(keep, id_col, "left_semi")
                .localCheckpoint(eager=True))
        n_kept = kept.count()
        (kept.write.mode("overwrite").partitionBy("batch_id")
         .parquet(f"{output_store}/{table}"))
        # the materialized (localCheckpoint'ed) count IS the written
        # count under overwrite mode — a read-back scan of the store we
        # just wrote would duplicate a full table scan for the same
        # number (and an all-pruned table writes no parquet footers, so
        # the read-back couldn't even infer a schema)
        out[f"{table}_after"] = n_kept
    return out


def start_corpus_sink(curated: DataFrame, path: str, checkpoint: str,
                      available_now: bool = False):
    """Append parquet partitioned (ingest_date, detected_lang): date for
    retention/pruning, language for mix-building reads. Exactly-once via
    the checkpointed file-sink log."""
    w = (
        curated.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .partitionBy("ingest_date", "detected_lang")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def process_span_batch(batch_df: DataFrame, batch_id: int, path: str,
                       span_store: str, window_tokens: int = 8) -> None:
    """One micro-batch of the streaming duplicate-span scrubber
    (module-level so the crash-replay test and the hash-gated registry
    query can drive it directly with pinned batch_ids).

    Fold rule: the batch is scrubbed against the window-hash store
    accumulated from every PRIOR batch (store windows always win), plus
    q127's min-(doc,pos) first-occurrence rule within the batch — i.e.
    exactly ``dedup.duplicate_span_removal`` under (batch, doc, pos)
    first-occurrence order, which is what the q130 oracle replays.
    The batch's own DISTINCT window hashes (pre-scrub: a window's first
    appearance claims it whether or not it survived here) then extend
    the store.

    Exactly-once: both writes are batch_id-keyed overwrite directories
    (the process_corpus_batch idempotency pattern), and the store read
    excludes the batch's OWN partition so a checkpoint replay cannot
    scrub the batch against its own prior contribution."""
    from ..operators import dedup as dedup_ops

    spark = batch_df.sparkSession
    if not batch_df.head(1):
        return
    hashes_path = f"{span_store}/hashes"
    if _dir_exists(spark, hashes_path):
        # explicit schema: a crash during the FIRST batch's store write
        # can leave only a _temporary dir here, and schema INFERENCE on
        # a data-file-less directory raises — which would wedge every
        # checkpoint replay; with the schema pinned the read is just
        # empty and the replay proceeds (review catch). In that same
        # state partition discovery sees no batch_id=N dirs at all, so
        # the own-partition exclusion must be conditional too.
        base_hashes = spark.read.schema("wh string").parquet(hashes_path)
        if "batch_id" in base_hashes.columns:
            base_hashes = (base_hashes
                           .filter(F.col("batch_id") != F.lit(batch_id))
                           .drop("batch_id"))
    else:
        base_hashes = spark.createDataFrame([], "wh string")
    # no localCheckpoint: unlike process_corpus_batch there is no
    # read-while-write to break — the sink write below reads the store,
    # and the store write reads only batch_df
    out = dedup_ops.duplicate_span_removal_against(
        batch_df, base_hashes=base_hashes, window_tokens=window_tokens)
    out.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")
    (dedup_ops.span_window_hashes(batch_df, window_tokens=window_tokens)
     .write.mode("overwrite").parquet(f"{hashes_path}/batch_id={batch_id}"))


def start_dup_span_sink(docs: DataFrame, path: str, checkpoint: str,
                        span_store: str, window_tokens: int = 8,
                        available_now: bool = False):
    """Streaming duplicate-span removal (X39's streaming tier): each
    micro-batch is span-scrubbed against the window-hash store of all
    previously seen text and its own hashes extend the store — the
    crawl-drop shape where repeated boilerplate arriving tomorrow is
    excised against everything ingested today, without ever re-reading
    ingested text (each trigger costs one join against the hash store,
    shuffled by the uniform md5 key).

    foreachBatch because the fold is a batch join against a growing
    static table plus two idempotent writes — outside the continuous
    API. Delivery: exactly-once (batch_id-keyed overwrite, see
    process_span_batch)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_span_batch(batch_df, batch_id, path, span_store,
                           window_tokens)

    w = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_span_store(spark, span_store: str, output_store: str) -> dict:
    """Span-store lifecycle companion to ``compact_signature_store``:
    the window-hash store grows one partition per micro-batch and the
    SAME hash can recur in every batch that re-saw the window (DISTINCT
    is per batch, not global), so a periodic rewrite folds history into
    one globally-DISTINCT set.

    Replay-safety contract: all partitions EXCEPT the newest batch are
    folded under the sentinel partition ``batch_id=-1`` (foreachBatch
    ids are never negative), and the newest batch's partition is kept
    as-is — so the sink's own-partition exclusion
    (``batch_id != current``) still works even if the stream crashed
    before committing that last batch and replays it against the
    compacted store. History semantics are unchanged by construction:
    the store means "windows seen so far", and a global DISTINCT of
    seen windows is the same set.

    Out-of-place like the other compactors: caller validates, then
    swaps pointers while the sink is stopped. Returns before/after row
    counts and the preserved newest batch id.

    Scale shape: one DISTINCT shuffle over the store keyed by the
    uniform md5 — linear, no corpus read."""
    _require_out_of_place(span_store, output_store, "span store")
    src = f"{span_store}/hashes"
    if not _dir_exists(spark, src):
        raise ValueError(f"span store {src!r} is missing or empty")
    rows = spark.read.schema("wh string").parquet(src)
    if "batch_id" not in rows.columns:
        raise ValueError(f"span store {src!r} has no batch partitions")
    # one job for both metadata values; max is NULL over an all-empty
    # store (every batch held only sub-window docs) — fail cleanly
    # BEFORE writing anything rather than int(None) after (review catch)
    meta = rows.agg(F.count(F.lit(1)).alias("n"),
                    F.max("batch_id").alias("mb")).head()
    n_before, max_b = meta["n"], meta["mb"]
    if max_b is None:
        raise ValueError(
            f"span store {src!r} holds no hash rows — nothing to "
            "compact (all batches were sub-window docs?)")
    folded = (rows.filter(F.col("batch_id") != max_b)
              .select("wh").distinct()
              .withColumn("batch_id", F.lit(-1)))
    newest = rows.filter(F.col("batch_id") == max_b)
    compacted = folded.unionByName(newest).localCheckpoint(eager=True)
    n_after = compacted.count()
    (compacted.write.mode("overwrite").partitionBy("batch_id")
     .parquet(f"{output_store}/hashes"))
    return {"before": n_before, "after": n_after,
            "kept_batch": int(max_b)}
