"""Streaming SCD2 dimension sink: maintain a Type-2 dimension from an
observation stream — the streaming completion of
``warehouse.history.scd2_apply_increment`` (q112), built on the same
bucketed-partial-rewrite storage as the CDC upsert sink
(``streaming.upsert``).

Per micro-batch: only the buckets containing batch keys are read; their
rows (closed intervals + current rows) and the batch observations run
through the incremental SCD2 fold; only those buckets are rewritten.
Per-trigger cost is O(touched dimension slices + batch), never
O(accumulated dimension).

Replay-idempotent by construction: observations at or before a key's
open interval are already reflected in the dimension, so the sink
skips them (``late_policy="skip"``, the default) and re-folding the
remainder finds runs already open with the same attribute — the
dimension converges row-identically under foreachBatch crash-replay
(untouched buckets byte-identical; rewritten files carry fresh part
names), no batch_id ledger needed (verified by test).

Out-of-order delivery: within a micro-batch, observations fold in
(ts, tiebreak) order. ACROSS batches the fold is append-only: an
observation older than its key's open interval cannot change history
without a rewrite, so it is indistinguishable from a replayed
(already-folded) row — skipped under the default policy, or refused
loudly with ``late_policy="error"`` for transports that guarantee
exactly-once ordered delivery (where such a row can only be a bug).
Feed the sink through a watermarked, event-time-sorted source when the
transport can reorder beyond a micro-batch.

Wire into a stream with ``job.start_foreach_batch_sink(observations,
make_scd2_batch_fn(...), checkpoint=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..warehouse.history import scd2_apply_increment, scd2_from_history
from .upsert import (
    BUCKET_COL,
    _check_bucket_count,
    _dir_exists,
    _read_meta,
    _with_bucket,
    _write_meta,
)


def apply_scd2_batch(spark: SparkSession, batch: DataFrame, dim_dir: str,
                     key_cols: list[str], ts_col: str, attr_col: str,
                     tiebreak_col: str, n_buckets: int = 16,
                     late_policy: str = "skip") -> None:
    """Fold one micro-batch of observations into the bucketed SCD2
    dimension. ``batch`` columns: key_cols + ts_col + attr_col +
    tiebreak_col (extra columns are ignored). ``late_policy``: what to
    do with observations at or before their key's open interval —
    ``"skip"`` (already folded / unfoldable without a history rewrite;
    the replay-convergent default) or ``"error"``."""
    if late_policy not in ("skip", "error"):
        raise ValueError(f"late_policy must be 'skip' or 'error', "
                         f"got {late_policy!r}")
    obs = batch.select(*key_cols, ts_col, attr_col, tiebreak_col)
    _check_bucket_count(spark, dim_dir, n_buckets)
    b = _with_bucket(obs, key_cols, n_buckets)
    # control-flow collect: ≤ n_buckets small ints picking partition
    # dirs to read/overwrite (same class as upsert.apply_cdc_batch)
    touched = sorted(
        r[BUCKET_COL] for r in b.select(BUCKET_COL).distinct().collect())
    if not touched:
        return
    batch_obs = b.filter(F.col(BUCKET_COL).isin(touched)).drop(BUCKET_COL)
    existing_dirs = [
        f"{dim_dir}/{BUCKET_COL}={t}" for t in touched
        if _dir_exists(spark, f"{dim_dir}/{BUCKET_COL}={t}")
    ]
    if existing_dirs:
        existing = spark.read.parquet(*existing_dirs)
        # late split: rows at/before their key's open interval are
        # either crash-replayed (already folded) or unfoldable without
        # a history rewrite — the same predicate covers both
        cur = (existing.filter(F.col("is_current"))
               .select(*key_cols,
                       F.col("effective_from").alias("__open_from")))
        tagged = batch_obs.join(cur, key_cols, "left")
        late = tagged.filter(F.col(ts_col) <= F.col("__open_from"))
        if late_policy == "error" and late.limit(1).count() > 0:
            raise ValueError(
                "batch contains observations at or before a key's open "
                "interval; with late_policy='error' the sink refuses "
                "instead of skipping them")
        fresh = (tagged.filter(F.col("__open_from").isNull()
                               | (F.col(ts_col) > F.col("__open_from")))
                 .drop("__open_from"))
        folded = scd2_apply_increment(
            existing, fresh, key_cols=key_cols, ts_col=ts_col,
            attr_col=attr_col, tiebreak_col=tiebreak_col)
    else:
        folded = scd2_from_history(
            batch_obs, key_cols=key_cols, ts_col=ts_col,
            attr_col=attr_col, tiebreak_col=tiebreak_col)
    merged = (_with_bucket(folded, key_cols, n_buckets)
              .localCheckpoint(eager=True))
    (merged.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(BUCKET_COL)
     .parquet(dim_dir))
    if _read_meta(spark, dim_dir) is None:
        _write_meta(spark, dim_dir, n_buckets)


def make_scd2_batch_fn(dim_dir: str, key_cols: list[str], ts_col: str,
                       attr_col: str, tiebreak_col: str,
                       n_buckets: int = 16, late_policy: str = "skip"):
    """foreachBatch adapter for job.start_foreach_batch_sink.
    ``late_policy`` is forwarded to :func:`apply_scd2_batch` so
    streaming callers on exactly-once ordered transports can select
    ``"error"`` (the module docstring's recommendation)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        apply_scd2_batch(batch_df.sparkSession, batch_df, dim_dir,
                         key_cols, ts_col, attr_col, tiebreak_col,
                         n_buckets, late_policy=late_policy)

    return fn


def read_dim(spark: SparkSession, dim_dir: str) -> DataFrame:
    """The full SCD2 dimension (all intervals, closed + current)."""
    return spark.read.parquet(dim_dir).drop(BUCKET_COL)
