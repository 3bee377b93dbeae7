"""Streaming SemDeDup increment (X42): fold embedding micro-batches
into the batch semantic-dedup rule (operators/similarity.semantic_dedup;
Abbas et al. 2023, arXiv:2303.09540) without ever re-pairing ingested
vectors — the crawl shape where tomorrow's embeddings must be deduped
against everything embedded today.

Why the fold is EXACT (not approximate): the batch rule's group
structure is the connected components of the ≥τ in-bucket pair graph.
For a corpus arriving in batches, every unordered pair (i, j) with i in
batch p ≥ q ∋ j lands in exactly one fold step — batch p's, where j is
either already in the store (p > q) or in the same batch (p = q, taken
once under id_a < id_b). So the UNION of the per-batch edge logs is
exactly the batch pair graph, and one read-time connected-components
pass over the log (edge-sized, the same CC the batch rule runs)
reproduces the batch groups bit-for-bit — including RETROACTIVE merges,
where a new vector bridges two groups formed in earlier batches. No
per-batch group state is ever rewritten; merges are closed at read
time.

Centroids are pinned at ``init_semantic_store`` and never move: the
fold assigns every batch against the SAME centroid frame, which is what
makes per-batch work O(batch·C) assignment + batch-vs-store in-bucket
pairs instead of a full recompute. Like the batch rule, the bucket
partition is a recall trade — a ≥τ pair straddling two buckets is
missed identically in both paths.

Per-batch cost at scale: one broadcast assignment of the batch, one
equi-join of the batch's buckets against the store's (Σ per-bucket
batch·store work — the store side is shuffled by centroid_id, vectors
never ride a corpus-wide shuffle), two batch-keyed writes. Store
growth: vectors += batch, edges += new ≥τ pairs (the same Σ bucket²
total the batch rule materializes transiently).

Delivery: exactly-once via the q130 span-sink contract
(streaming/curation.process_span_batch) — both writes are
batch_id-keyed overwrite directories, and the store-side read excludes
the batch's OWN partition so a checkpoint replay cannot pair a batch
against its prior contribution. Vector ids must be unique across the
stream (the same contract every dedup tier carries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph, similarity
from .curation import _require_out_of_place
from .upsert import _dir_exists

__all__ = [
    "init_semantic_store",
    "process_semantic_batch",
    "start_semantic_dedup_sink",
    "semantic_groups",
    "compact_semantic_store",
]


def init_semantic_store(centroids: DataFrame, store: str,
                        two_level: bool = False) -> None:
    """Pin the centroid frame the whole stream will assign against —
    (centroid_id, cvec), e.g. ``similarity.sampled_centroids`` of a
    seed corpus — AND the assignment rule (``two_level``: the
    q126-pinned O(batch·√C) coarse-quantized argmax instead of the
    flat O(batch·C) one; the scale path when C grows with the corpus —
    flat measured 16.3×/decade at x100 centroid sizing, two-level
    1.9×, STRESS_X10.md). The rule is STORE state, not a per-call
    flag: both rules are deterministic but assign borderline vectors
    to different buckets, so one batch folded under the other rule
    would silently break the fold == batch exactness contract — every
    ``process_semantic_batch`` reads the marker pinned here.

    Write-once semantics: the fold's exactness argument assumes every
    batch saw the SAME centroids and rule, so re-initialising an
    in-flight store with different ones corrupts it (overwrite mode
    only so a driver-side retry of the init itself is idempotent; it
    is not a re-centering mechanism — recentering means rebuild)."""
    spark = centroids.sparkSession
    centroids.select("centroid_id", "cvec") \
        .write.mode("overwrite").parquet(f"{store}/centroids")
    _write_marker(spark, store, two_level)


def _write_marker(spark: SparkSession, store: str, two_level: bool) -> None:
    # a plain FS sidecar, NOT a parquet write: the marker is read by
    # EVERY fold step and q132 times the whole init+fold, so it must
    # cost zero Spark jobs (measured ~1s/call of pure job overhead as
    # a 1-row parquet dataset). Same plumbing as upsert.py's
    # _n_buckets sidecar — reuse its helpers rather than grow a third
    # copy of the JVM-FS read/write shape (review catch; that writer
    # also carries the try/finally this one first lacked).
    from .upsert import _fs_and_path

    fs, path = _fs_and_path(spark, f"{store}/meta.json")
    out = fs.create(path, True)
    try:
        out.write(bytearray(b"1\n" if two_level else b"0\n"))
    finally:
        out.close()


def _store_two_level(spark: SparkSession, store: str) -> bool:
    from .upsert import _fs_and_path

    fs, path = _fs_and_path(spark, f"{store}/meta.json")
    if not fs.exists(path):
        return False
    stream = fs.open(path)
    try:
        buf = bytearray()
        b = stream.read()  # FSDataInputStream.read(): one byte, -1 at EOF
        while b != -1 and len(buf) < 8:
            buf.append(b)
            b = stream.read()
    finally:
        stream.close()
    text = bytes(buf).decode("ascii").strip()
    if text not in ("0", "1"):
        # a crash between create and close leaves an empty/partial
        # file; the marker is store-critical state, so fail LOUDLY with
        # the remedy instead of json-decode noise or a silent default
        raise ValueError(
            f"semantic store marker {store}/meta.json is corrupt "
            f"({text!r}) — re-run init_semantic_store with the store's "
            "original two_level setting")
    return text == "1"


def process_semantic_batch(batch_df: DataFrame, batch_id: int, store: str,
                           threshold: float = 0.3,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> None:
    """One micro-batch of the streaming SemDeDup fold (module-level so
    the crash-replay test and the hash-gated registry query can drive
    it directly with pinned batch_ids — the q130 pattern).

    Fold step: assign the batch against the pinned centroids, log every
    ≥τ in-bucket pair the batch forms with (a) the stored vectors of
    all PRIOR batches and (b) itself (id_a < id_b — each unordered pair
    once), then append the assigned batch to the vector store. Edges
    are normalized to (least, greatest) so the accumulated log is
    orientation-identical to the batch rule's id_a < id_b pair set.

    Exactly-once: both writes are batch_id-keyed overwrite directories
    and the store read excludes the batch's OWN partition (checkpoint
    replay cannot pair the batch against its prior contribution). The
    edge write happens FIRST: it is the one that reads the vector
    store, and the vector write must never race a reader of the
    partition it overwrites (the assignment is localCheckpointed, so
    the vector write reads nothing but materialized state).

    The assignment rule (flat vs two-level) is read from the marker
    ``init_semantic_store`` pinned — store state, never a per-call
    flag, so no restart or second caller can fold a batch under a
    different rule than the store's history (which would silently
    break fold == batch; review catch). Any batch run compared against
    the store must use the same setting."""
    spark = batch_df.sparkSession
    if not batch_df.head(1):
        return
    cents = spark.read.parquet(f"{store}/centroids")
    assign = (similarity.assign_centroids_two_level
              if _store_two_level(spark, store)
              else similarity.assign_centroids)
    # localCheckpoint: read three times (both pair sides + the vector
    # write) — and it makes the vector-store write below plan-free of
    # the store it overwrites a partition of (see docstring)
    assigned = assign(
        batch_df.select(id_col, vec_col), cents,
        vec_col=vec_col, id_col=id_col).localCheckpoint()
    vec_path = f"{store}/vectors"
    if _dir_exists(spark, vec_path):
        # explicit schema: a crash during the FIRST batch's vector
        # write can leave a data-file-less directory, and schema
        # inference there raises — wedging every checkpoint replay
        # (the q130 first-batch-crash contract). In that state
        # partition discovery sees no batch_id=N dirs either, so the
        # own-partition exclusion is conditional too.
        base = spark.read.schema(assigned.schema).parquet(vec_path)
        if "batch_id" in base.columns:
            base = (base
                    .filter(F.col("batch_id") != F.lit(batch_id))
                    .drop("batch_id"))
    else:
        base = spark.createDataFrame([], assigned.schema)
    a = similarity.pair_side(assigned, "a", vec_col, id_col)
    edges = (
        similarity.bucket_cosine_pairs(
            a, similarity.pair_side(base, "b", vec_col, id_col), threshold)
        .unionByName(
            similarity.bucket_cosine_pairs(
                a, similarity.pair_side(assigned, "b", vec_col, id_col),
                threshold)
            .filter(F.col("id_a") < F.col("id_b")))
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"))
    )
    edges.write.mode("overwrite").parquet(
        f"{store}/edges/batch_id={batch_id}")
    assigned.write.mode("overwrite").parquet(
        f"{vec_path}/batch_id={batch_id}")


def start_semantic_dedup_sink(vecs: DataFrame, checkpoint: str, store: str,
                              threshold: float = 0.3,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              available_now: bool = False):
    """Streaming SemDeDup sink: each micro-batch of embeddings extends
    the pinned-centroid semantic-dedup store (see module docstring);
    ``semantic_groups`` closes the accumulated log into the exact batch
    groups at read time. ``init_semantic_store`` must have run first.

    foreachBatch because the fold is a batch join against a growing
    static table plus two idempotent writes — outside the continuous
    API. Delivery: exactly-once (batch_id-keyed overwrite)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_semantic_batch(batch_df, batch_id, store,
                               threshold=threshold,
                               vec_col=vec_col, id_col=id_col)

    w = (
        vecs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_semantic_store(spark: SparkSession, store: str,
                           output_store: str) -> dict:
    """Semantic-store lifecycle companion to the span/signature
    compactors: vectors and edges grow one partition per micro-batch,
    so a periodic rewrite folds history into the sentinel partition
    ``batch_id=-1`` (foreachBatch ids are never negative). Contents
    are copied, never recomputed — the edge log IS the batch pair
    graph and must stay exactly as logged (no DISTINCT needed either:
    every unordered pair is logged exactly once by construction).

    Replay-safety contract (the span-compactor rule, applied to BOTH
    directories): the NEWEST batch's partitions are kept as-is, so a
    stream that crashed before committing that batch can replay it —
    the vector read's own-partition exclusion still works, and the
    replay's batch_id-keyed overwrite still targets a live partition
    instead of silently double-counting into the sentinel. The newest
    id is taken as the max over BOTH stores: the fold writes edges
    BEFORE vectors, so a mid-batch crash can leave an edge partition
    one batch ahead of the vector store.

    Centroids are copied verbatim (the pinned frame the whole store's
    exactness argument rests on). Out-of-place like every compactor:
    caller validates, then swaps pointers while the sink is stopped.
    Returns per-store row counts and the preserved newest batch id."""
    _require_out_of_place(store, output_store, "semantic store")
    vec_src, edge_src = f"{store}/vectors", f"{store}/edges"
    if not _dir_exists(spark, vec_src):
        raise ValueError(f"semantic store {vec_src!r} is missing or empty")
    from pyspark.errors import AnalysisException

    try:
        vecs = spark.read.parquet(vec_src)
    except AnalysisException as e:
        # schema inference over a data-file-less dir (first-batch
        # vector-write crash left only _temporary): fail CLEANLY like
        # compact_span_store, not with a raw inference error
        raise ValueError(
            f"semantic store {vec_src!r} holds no committed vector rows "
            "(crashed first batch?) — nothing to compact") from e
    if "batch_id" not in vecs.columns:
        raise ValueError(f"semantic store {vec_src!r} has no batch "
                         "partitions")
    idt = dict(vecs.dtypes)["vec_id" if "vec_id" in vecs.columns
                            else vecs.columns[0]]
    if _dir_exists(spark, edge_src):
        edges = spark.read.schema(f"id_a {idt}, id_b {idt}") \
            .parquet(edge_src)
        if "batch_id" not in edges.columns:
            edges = edges.withColumn("batch_id", F.lit(-1))
    else:
        edges = spark.createDataFrame(
            [], f"id_a {idt}, id_b {idt}, batch_id int")
    max_v = vecs.agg(F.max("batch_id")).head()[0]
    max_e = edges.agg(F.max("batch_id")).head()[0]
    keep = max((b for b in (max_v, max_e) if b is not None), default=None)
    if keep is None:
        raise ValueError(f"semantic store {store!r} holds no batch rows")

    def _fold(df):
        folded = (df.filter(F.col("batch_id") != keep)
                  .withColumn("batch_id", F.lit(-1)))
        return folded.unionByName(df.filter(F.col("batch_id") == keep)) \
            .localCheckpoint()

    cv, ce = _fold(vecs), _fold(edges)
    n_vec, n_edge = cv.count(), ce.count()
    (cv.write.mode("overwrite").partitionBy("batch_id")
     .parquet(f"{output_store}/vectors"))
    (ce.write.mode("overwrite").partitionBy("batch_id")
     .parquet(f"{output_store}/edges"))
    (spark.read.parquet(f"{store}/centroids")
     .write.mode("overwrite").parquet(f"{output_store}/centroids"))
    # the assignment-rule marker is store state: a compacted store
    # must keep folding under the same rule
    _write_marker(spark, output_store, _store_two_level(spark, store))
    return {"vectors": n_vec, "edges": n_edge, "kept_batch": int(keep)}


def semantic_groups(spark: SparkSession, store: str,
                    id_col: str = "vec_id") -> DataFrame:
    """Close the accumulated fold into groups: one connected-components
    pass over the edge LOG (edge-sized — the identical CC the batch
    rule runs on its transient pair frame), joined back to the stored
    assignments. Returns (id_col, centroid_id, group_id, keep) — the
    exact ``semantic_dedup`` output schema and, because the edge-log
    union IS the batch pair graph (module docstring), the exact batch
    values: retroactive group merges are closed here, not by rewriting
    store partitions.

    Raises if the vector store is unreadable/uninitialized (no batch
    ever committed) — there is nothing to group. The edge log, by
    contrast, is read with a pinned schema: a batch whose edge frame
    was EMPTY can legitimately leave a data-file-less partition (AQE
    may plan zero output files), and that must read as zero edges, not
    an inference error."""
    vecs = spark.read.parquet(f"{store}/vectors")
    if "batch_id" in vecs.columns:
        vecs = vecs.drop("batch_id")
    idt = dict(vecs.dtypes)[id_col]
    edge_path = f"{store}/edges"
    if _dir_exists(spark, edge_path):
        edges = spark.read.schema(f"id_a {idt}, id_b {idt}") \
            .parquet(edge_path)
    else:
        edges = spark.createDataFrame([], f"id_a {idt}, id_b {idt}")
    # EMPTY node frame + LEFT join-back with coalesce (optimization
    # round 16 — the batch rule's own shape in similarity.semantic_dedup):
    # edge endpoints ⊆ stored vectors by construction, so the label
    # table is PAIR-GRAPH sized and the store is joined against it
    # once — broadcast when the driver CC fast path bounded it,
    # shuffle-hash otherwise (the store must never be SORTED to pick
    # up its group label)
    st: dict = {}
    labels = graph.connected_components_star(
        vecs.select(id_col).filter(F.lit(False)), edges, id_col=id_col,
        stats=st)
    group = F.coalesce(F.col("component"), F.col(id_col))
    return (
        vecs.select(id_col, "centroid_id")
        .join(labels.withColumnRenamed("id", id_col)
              .hint("broadcast" if st.get("driver_cc") else "shuffle_hash"),
              id_col, "left")
        .select(
            id_col,
            "centroid_id",
            group.alias("group_id"),
            (group == F.col(id_col)).alias("keep"),
        )
    )
