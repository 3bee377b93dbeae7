"""Incremental star-schema maintenance — the streaming completion of
S14/J4 (reference loads its DWH in batch; this feeds the same star from
``foreachBatch``, exactly-once).

Keys and table names are the batch build's own (``warehouse.star``,
``schemas.DOMAINS``): every key is computed from the row it describes,
so an incremental build assigns the SAME keys as a batch rebuild over
the union, whatever the batch order, and a fact batch is written
without reading any dim back.

Idempotency by construction (a micro-batch may replay after failure):

- dim appends are anti-joined against what is already on disk by key,
  so a replayed batch adds nothing new;
- the weather dim's anti-join is a left join that also compares the
  tuple: a ``weather_key`` already on disk with a different tuple (a
  hash collision across batches) raises in that same join instead of
  being dropped as "already present";
- each fact batch overwrites its OWN ``batch_id=N`` directory, so a
  replay converges to the same bytes instead of duplicating rows.
  Facts are globally keyed by (batch_id, fact_id): ``batch_id`` is the
  partition directory, ``fact_id`` is partition-local.

Scale: per-batch cost is bounded by the micro-batch plus one join
against each dim on its key. Facts never rewrite history — one directory
per batch, no compaction of old batches on the write path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..schemas import DOMAINS
from . import star


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def _keys_not_on_disk(batch: DataFrame, on_disk: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """Rows of ``batch`` whose ``key`` is not in ``on_disk`` (an anti-join
    on the key); raises if a key on disk carries a different tuple."""
    disk = on_disk.select(key, F.struct(*cols).alias("_disk"))
    new = F.when(F.col("_disk").isNull(), True).when(
        F.struct(*cols).eqNullSafe(F.col("_disk")), False
    ).otherwise(
        F.raise_error(F.format_string(f"{key} %s is on disk with another tuple of {cols}", F.col(key)))
    )
    return batch.join(disk, key, "left").filter(new).select(*batch.columns)


def upsert_star_batch(spark: SparkSession, processed: DataFrame,
                      station_dim: DataFrame, base_path: str,
                      domain: str, batch_id: int) -> None:
    """Apply one processed micro-batch to the star at ``base_path``."""
    d = DOMAINS[domain]

    # station dim: static registry dimension — write once
    st_path = f"{base_path}/{d.station_table}"
    if _read_or_none(spark, st_path) is None:
        star.build_station_dim(station_dim, d.station_ids).write.mode("overwrite").parquet(st_path)

    # datetime dim: append only timestamps not yet present
    dt_path = f"{base_path}/Dim_DateTime"
    dt_batch = star.build_datetime_dim(processed)
    dt_existing = _read_or_none(spark, dt_path)
    if dt_existing is not None:
        dt_batch = dt_batch.join(
            dt_existing.select("datetime_key"), "datetime_key", "left_anti"
        )
    dt_batch.write.mode("append").parquet(dt_path)

    # weather dim: append only tuples whose hash key is not yet present
    wx_path = f"{base_path}/{d.weather_table}"
    wx_batch = star.build_weather_dim(processed, d.weather_columns)
    wx_existing = _read_or_none(spark, wx_path)
    if wx_existing is not None:
        wx_batch = _keys_not_on_disk(wx_batch, wx_existing, "weather_key", d.weather_columns)
    wx_batch.write.mode("append").parquet(wx_path)

    # fact: keys come from the rows themselves; the batch owns its
    # directory, so replays overwrite instead of append
    fact = star.build_fact(processed, d.station_ids, d.weather_columns, d.measure_columns)
    fact.write.mode("overwrite").parquet(f"{base_path}/{d.fact_table}/batch_id={batch_id}")


def star_upsert_fn(spark: SparkSession, station_dim: DataFrame,
                   base_path: str, domain: str):
    """``foreachBatch`` callback maintaining the star incrementally."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_star_batch(spark, batch_df, station_dim, base_path, domain, batch_id)

    return fn


def read_star(spark: SparkSession, base_path: str, domain: str) -> dict[str, DataFrame]:
    """Load the incrementally-built star (fact's batch_id partition
    column is part of its global key and stays visible)."""
    d = DOMAINS[domain]
    names = ["Dim_DateTime", d.station_table, d.weather_table, d.fact_table]
    return {name: spark.read.parquet(f"{base_path}/{name}") for name in names}


def denormalize(tables: dict[str, DataFrame], domain: str) -> DataFrame:
    """Join the fact back through its dims to natural keys + measures —
    the surrogate-key-free content of the warehouse, used to prove an
    incremental build equals the batch rebuild."""
    d = DOMAINS[domain]
    out = (
        tables[d.fact_table]
        .join(tables["Dim_DateTime"].select("datetime_key", "timestamp"), "datetime_key")
        .join(F.broadcast(tables[d.station_table].select("station_key", "station_id")), "station_key")
        .join(tables[d.weather_table].select("weather_key", *d.weather_columns), "weather_key")
    )
    return out.select("timestamp", "station_id", *d.weather_columns, *d.measure_columns)


# ---------------------------------------------------------------------
# Incremental aggregate-state maintenance (mergeable rollup states)
# ---------------------------------------------------------------------
# The star loader above maintains FACTS incrementally; these maintain
# AGGREGATES: keep per-key (n, sum, min, max) as a state table, fold
# each new batch in with one partial-aggregatable merge, and derive the
# final metrics (mean) only at read time. The invariant — state after
# any batch split equals the direct aggregate of all rows — is what
# makes per-batch cost proportional to the BATCH, not the history
# (sums go through DECIMAL(18,4) so merge order cannot change results).

AGG_STATE_DEC = "decimal(18,4)"


def agg_state(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Collapse rows to per-key mergeable state: n (non-null count),
    total (exact decimal sum), vmin, vmax."""
    from pyspark.sql import functions as F

    return df.groupBy(*key_cols).agg(
        F.count(value_col).alias("n"),
        F.sum(F.col(value_col).cast(AGG_STATE_DEC)).alias("total"),
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
    )


def merge_agg_states(a: DataFrame, b: DataFrame,
                     key_cols: list[str]) -> DataFrame:
    """Merge two state tables: every component is itself aggregatable
    (n and total add, vmin/vmax re-min/max), so the merge is one
    groupBy with map-side combine — never a recompute over history."""
    from pyspark.sql import functions as F

    return a.unionByName(b).groupBy(*key_cols).agg(
        F.sum("n").alias("n"),
        F.sum("total").alias("total"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def finalize_agg_state(state: DataFrame) -> DataFrame:
    """Derive read-time metrics from state: mean = exact-decimal total
    over count, cast to double (identical IEEE division on any engine
    that kept the same exact sum)."""
    from pyspark.sql import functions as F

    return state.select(
        *[c for c in state.columns if c not in ("total",)],
        F.col("total").cast("double").alias("total"),
        F.when(F.col("n") > 0,
               F.col("total").cast("double") / F.col("n")).alias("mean"),
    )
