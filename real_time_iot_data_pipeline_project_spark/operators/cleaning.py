"""Validate → clean → dedup pipeline (SURVEY.md §2.2/§2.3; entry point A
``Solar_Processing.py:15-43`` / ``Wind_Processing.py:15-43`` and the
reference's own Spark notebook, docx §solar:validation_spark /
§wind:clean_df). One chain for every domain: the rules it applies
(required columns, bounds, fill defaults) are read from the domain
record, ``schemas.DOMAINS``.

Stage order is preserved from the reference (filter → fillna → dedup):
the range filter only touches columns that are never null-filled, so the
stages commute for Catalyst, but we author them in the reference's order
anyway (SURVEY.md §3.1 note).

Scale notes:
- the whole pipeline is narrow except dedup (one shuffle on the dedup
  keys). ``deduplicate`` exposes a deterministic min-ingest-order winner
  (window + row_number) and a cheaper arbitrary-winner ``dropDuplicates``;
  at 100 TB both are a single hash-partition pass over (station, ts) keys,
  which are near-unique → no skew.
- all predicates are plain Column expressions → pushed into the parquet
  scan by Catalyst (verify with .explain: PushedFilters).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions import timeutils


class SchemaValidationError(ValueError):
    """Raised when required columns are missing (P10 — the reference
    raises ValueError, Solar_Processing.py:15-18)."""


def require_columns(df: DataFrame, required: list[str]) -> DataFrame:
    """P10 — driver-side required-column assertion."""
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise SchemaValidationError(f"missing required columns: {missing}")
    return df


def parse_timestamps(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """F1-F3 — normalize the timestamp column in place (string → timestamp,
    coerce-invalid-to-null), preserving all other columns."""
    return df.withColumn(ts_col, timeutils.normalize_timestamp(ts_col))


def apply_range_filter(df: DataFrame, bounds: dict[str, tuple[float, float]]) -> DataFrame:
    """P3 — conjunctive inclusive range predicates. Rows with a null in a
    bounded column are dropped (matches pandas ``between`` on NaN and
    Spark ``between`` null semantics). Columns absent from the frame are
    skipped (drift tolerance)."""
    pred = None
    for col, (lo, hi) in bounds.items():
        if col not in df.columns:
            continue
        p = F.col(col).between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def fill_defaults(df: DataFrame, defaults: dict[str, float]) -> DataFrame:
    """P9 — null-fill domain defaults (only for columns present)."""
    present = {k: v for k, v in defaults.items() if k in df.columns}
    return df.na.fill(present) if present else df


def deduplicate(
    df: DataFrame,
    keys: list[str] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """D1 — key dedup.

    With ``order_col`` (e.g. a ``monotonically_increasing_id`` ingest tag):
    deterministic keep-first-by-order, matching pandas
    ``drop_duplicates(keep='first')`` (Solar_Processing.py:34). Without:
    Spark ``dropDuplicates`` (arbitrary winner — cheaper, map-side
    partial-agg friendly; fine when rows with equal keys are identical).
    """
    keys = keys or schemas.DEDUP_KEYS
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def drop_null_timestamps(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Rows whose timestamp failed to parse are unusable downstream
    (pandas drops them via the coerce→dropna path)."""
    return df.filter(F.col(ts_col).isNotNull())


def validate(df: DataFrame, domain: str) -> DataFrame:
    """The domain's validate chain, shared by batch and stream:
    require columns → parse timestamps → drop unparseable ones → range
    filter → null-fill. Dedup is left to the caller: batch and stream
    dedup differently."""
    d = schemas.DOMAINS[domain]
    df = parse_timestamps(require_columns(df, d.required_columns))
    df = drop_null_timestamps(df)
    df = apply_range_filter(df, d.range_bounds)
    return fill_defaults(df, d.fill_defaults)


def clean(df: DataFrame, domain: str, *, deterministic_dedup: bool = False) -> DataFrame:
    """Full batch validate→clean→dedup (Solar_Processing.py:15-43,
    Wind_Processing.py:15-43 with the Spark-notebook canonical bounds).
    ``deterministic_dedup`` keeps the first row of each key in input
    order, as pandas ``drop_duplicates`` does."""
    if not deterministic_dedup:
        return deduplicate(validate(df, domain))
    tagged = df.withColumn("__ingest_order", F.monotonically_increasing_id())
    return deduplicate(validate(tagged, domain), order_col="__ingest_order").drop("__ingest_order")


clean_solar = partial(clean, domain="solar")
clean_wind = partial(clean, domain="wind")
