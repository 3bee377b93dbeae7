"""Streaming CDC upsert sink: maintain a latest-state snapshot table
from a changelog stream — the streaming completion of
``warehouse.history.cdc_latest_snapshot`` (q97), and the from-parquet
reconstruction of what Hudi/Delta call MERGE INTO on a stream.

Design (the shapes that survive 100 TB of accumulated state):

- **Bucketed partial rewrite.** The snapshot lives under
  ``bucket=<hash(key) % n_buckets>`` directories. A micro-batch only
  rewrites the buckets its keys hash into — per-trigger cost is
  O(touched state + batch), never O(total state). At scale, set
  ``n_buckets`` so one bucket ≈ a few executor-partitions of state
  (the same sizing logic as shuffle partitions).
- **Latest-wins merge, replay-idempotent by construction.** Existing
  bucket rows and the batch's ops are unioned and folded with
  ``max_by(payload, order_cols)`` — the merge is associative and
  idempotent, so a crash-replayed micro-batch converges to identical
  bytes instead of duplicating or reordering effects.
- **Tombstones are RETAINED, not applied-and-dropped.** A delete is
  stored as a row with ``op = delete_op`` and filtered at read time
  (``read_snapshot``). Dropping it would let ANY later-delivered stale
  upsert resurrect the key; keeping it makes latest-wins correct under
  out-of-order cross-batch delivery (the Kafka-compacted-topic /
  Hudi design). ``compact_snapshot`` purges tombstones older than an
  explicit horizon — the operator's documented GC, mirroring
  curation.compact_corpus.

Wire into a stream with ``job.start_foreach_batch_sink(changelog,
make_cdc_upsert_batch_fn(...), checkpoint=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"
META_FILE = "_n_buckets"  # sidecar: the bucket count the snapshot was built with


def _with_bucket(df: DataFrame, key_cols: list[str], n_buckets: int) -> DataFrame:
    # xxhash64 of the key tuple: stable across sessions/partitionings,
    # cheap JVM-side; pmod keeps negatives in range
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
        .cast("int"))


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _dir_exists(spark, path: str) -> bool:
    """Explicit Hadoop-FS existence check — distinguishes "store not
    created yet" from real read failures (corrupt footer, permission,
    schema error), which must fail the batch so the checkpoint retries
    it instead of silently merging against an empty store. An existing
    but EMPTY directory (what a crash between two writes of one batch
    can leave behind) counts as not-created."""
    fs, hpath = _fs_and_path(spark, path)
    return fs.exists(hpath) and len(fs.listStatus(hpath)) > 0


def _read_meta(spark: SparkSession, snapshot_dir: str) -> int | None:
    fs, hpath = _fs_and_path(spark, f"{snapshot_dir}/{META_FILE}")
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        buf = bytearray()
        b = stream.read()  # FSDataInputStream.read(): one byte, -1 at EOF
        while b != -1 and len(buf) < 64:
            buf.append(b)
            b = stream.read()
    finally:
        stream.close()
    return int(bytes(buf).decode("ascii").strip())


def _write_meta(spark: SparkSession, snapshot_dir: str, n_buckets: int) -> None:
    fs, hpath = _fs_and_path(spark, f"{snapshot_dir}/{META_FILE}")
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(f"{n_buckets}\n".encode("ascii")))
    finally:
        stream.close()


def _check_bucket_count(spark: SparkSession, snapshot_dir: str,
                        n_buckets: int) -> None:
    """``n_buckets`` is part of the snapshot's on-disk identity: a
    different count re-routes keys to different bucket dirs, so rows
    already stored under the old hashing would silently stop being
    merged against (stale survivors, resurrect-after-delete). Refuse
    loudly instead — re-bucketing is an explicit offline rewrite.

    The authoritative record is the ``_n_buckets`` sidecar written at
    snapshot creation and compared EXACTLY on every batch — dir-name
    inspection alone cannot detect a count INCREASE (every stored dir
    id stays < the larger count). The dir scan remains as the fallback
    for pre-sidecar snapshots, and such a legacy snapshot gets the
    sidecar backfilled on its next successful batch."""
    if not _dir_exists(spark, snapshot_dir):
        return
    stored = _read_meta(spark, snapshot_dir)
    if stored is not None:
        if stored != n_buckets:
            raise ValueError(
                f"snapshot {snapshot_dir!r} was built with "
                f"n_buckets={stored} but this batch uses "
                f"n_buckets={n_buckets}; the bucket count is fixed at "
                "snapshot creation — rewrite the snapshot offline to "
                "re-bucket")
        return
    fs, hpath = _fs_and_path(spark, snapshot_dir)
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith(f"{BUCKET_COL}="):
            bucket = int(name.split("=", 1)[1])
            if bucket >= n_buckets:
                raise ValueError(
                    f"snapshot {snapshot_dir!r} has bucket dir {name} but "
                    f"n_buckets={n_buckets}; the bucket count is fixed at "
                    "snapshot creation — rewrite the snapshot offline to "
                    "re-bucket")


def apply_cdc_batch(spark: SparkSession, batch: DataFrame, snapshot_dir: str,
                    key_cols: list[str], order_cols: list[str], op_col: str,
                    n_buckets: int = 16) -> None:
    """Merge one changelog micro-batch into the bucketed snapshot.

    Only buckets containing batch keys are read and rewritten; each
    touched bucket is replaced by latest-wins over (existing rows ∪
    batch ops). ``order_cols`` must totally order ops per key across
    batches (event time + a unique tiebreaker) — that is what makes
    replay AND out-of-order delivery converge.

    ``op_col`` must exist and be non-null on every batch row: a
    null-op row would occupy snapshot state yet silently vanish from
    ``read_snapshot`` (NULL != 'D' is NULL → filtered) — malformed
    changelog rows are rejected loudly here instead."""
    payload = [c for c in batch.columns if c not in key_cols]
    if op_col not in batch.columns:
        raise ValueError(f"changelog batch has no op column {op_col!r}")
    # cheap validation scan of the (small) micro-batch only — never of
    # accumulated state; limit(1) stops at the first offender
    if batch.filter(F.col(op_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"changelog batch contains NULL {op_col!r} rows; ops must be "
            "non-null (e.g. 'U'/'D') — a null op can neither be read "
            "back nor tombstoned")
    _check_bucket_count(spark, snapshot_dir, n_buckets)
    b = _with_bucket(batch, key_cols, n_buckets)
    # control-flow collect, NOT data collection: ≤ n_buckets small ints
    # deciding which partition dirs to read/overwrite (same class as the
    # 1-row max() read in warehouse.incremental)
    touched = sorted(
        r[BUCKET_COL] for r in b.select(BUCKET_COL).distinct().collect())
    if not touched:
        return
    merged_src = b.filter(F.col(BUCKET_COL).isin(touched))
    existing_dirs = [
        f"{snapshot_dir}/{BUCKET_COL}={t}" for t in touched
        if _dir_exists(spark, f"{snapshot_dir}/{BUCKET_COL}={t}")
    ]
    if existing_dirs:
        # partition dirs read directly lose the partition column;
        # recompute it from the keys (deterministic hash)
        existing = _with_bucket(
            spark.read.parquet(*existing_dirs), key_cols, n_buckets)
        merged_src = merged_src.unionByName(existing)
    merged = (
        merged_src.groupBy(*key_cols, BUCKET_COL)
        .agg(F.max_by(F.struct(*payload), F.struct(*order_cols))
             .alias("__last"))
        .select(*key_cols, BUCKET_COL,
                *[F.col(f"__last.{c}").alias(c) for c in payload])
        # one file per bucket dir unless state is huge; callers with
        # monster buckets should raise n_buckets instead
        .localCheckpoint(eager=True)
    )
    # overwrite ONLY the touched bucket directories (dynamic partition
    # overwrite); untouched buckets are never read or written
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(BUCKET_COL)
     .parquet(snapshot_dir))
    # record (or backfill, for pre-sidecar snapshots) the bucket count
    # the snapshot is hashed with; _check_bucket_count compares exactly
    if _read_meta(spark, snapshot_dir) is None:
        _write_meta(spark, snapshot_dir, n_buckets)


def make_cdc_upsert_batch_fn(snapshot_dir: str, key_cols: list[str],
                             order_cols: list[str], op_col: str,
                             n_buckets: int = 16):
    """foreachBatch adapter for job.start_foreach_batch_sink."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(batch_df.sparkSession, batch_df, snapshot_dir,
                        key_cols, order_cols, op_col, n_buckets)

    return fn


def read_snapshot(spark: SparkSession, snapshot_dir: str, op_col: str,
                  delete_op: str = "D") -> DataFrame:
    """Current state: stored rows minus retained tombstones. Null-safe:
    ``apply_cdc_batch`` rejects null-op rows at write time, but a
    pre-validation (or hand-written) snapshot may still hold them —
    eqNullSafe surfaces such rows instead of silently dropping state
    that ``!=`` would evaluate to NULL on."""
    return (spark.read.parquet(snapshot_dir)
            .filter(~F.col(op_col).eqNullSafe(F.lit(delete_op)))
            .drop(BUCKET_COL))


def compact_snapshot(spark: SparkSession, snapshot_dir: str, output_dir: str,
                     op_col: str, horizon_filter: F.Column,
                     delete_op: str = "D") -> int:
    """GC pass: rewrite the snapshot WITHOUT tombstones older than the
    horizon (``horizon_filter`` true = old enough to purge). Purging a
    tombstone forfeits protection against upserts staler than it —
    pick the horizon beyond any plausible delivery delay, exactly like
    a watermark. Out-of-place (same contract as curation
    compact_corpus): callers swap directories after validating. Returns
    rows written."""
    snap = spark.read.parquet(snapshot_dir)
    purge = (F.col(op_col) == F.lit(delete_op)) & horizon_filter
    kept = snap.filter(~purge).localCheckpoint(eager=True)
    n = kept.count()
    (kept.write.mode("overwrite").partitionBy(BUCKET_COL)
     .parquet(output_dir))
    return n
