"""Feature engineering (entry point A stage 4: ``Solar_Processing.py:42-57``,
``Wind_Processing.py:46-65``, docx §solar:create_col_spark /
§wind derived columns). One path for every domain; the derived column
and the validity columns are read from ``schemas.DOMAINS``.

All derivations are narrow ``withColumn`` projections — zero shuffles,
fully codegen'd.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..functions import timeutils
from . import cleaning


def add_time_features(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """local_timestamp / hour / day_of_week / time_of_day (F3-F5, F8)."""
    return (
        df.withColumn("local_timestamp", timeutils.to_local(ts_col))
        .withColumn("hour", timeutils.hour_of("local_timestamp"))
        .withColumn("day_of_week", timeutils.day_name("local_timestamp"))
        .withColumn("time_of_day", timeutils.time_of_day("hour"))
    )


def add_validity_flag(df: DataFrame, check_cols: list[str]) -> DataFrame:
    """P7 — ``is_valid`` = all key measures non-null (Wind_Processing.py:63)."""
    pred = F.lit(True)
    for c in check_cols:
        if c in df.columns:
            pred = pred & F.col(c).isNotNull()
    return df.withColumn("is_valid", pred)


def featurize(df: DataFrame, domain: str) -> DataFrame:
    """The domain's derived columns: time features, its physics column
    (solar ``capacity_utilization_pct`` via create_map, docx
    §solar:create_col_spark — F22/J1; wind ``wind_power_density``, F19,
    Wind_Processing.py:46-65) and ``is_valid``."""
    d = schemas.DOMAINS[domain]
    df = add_time_features(df).withColumn(d.derived_column, d.derive())
    return add_validity_flag(df, d.validity_columns)


def process(df: DataFrame, domain: str, *, deterministic_dedup: bool = False) -> DataFrame:
    """Raw → processed, the complete entry-point-A pipeline."""
    return featurize(cleaning.clean(df, domain, deterministic_dedup=deterministic_dedup), domain)


featurize_solar = partial(featurize, domain="solar")
featurize_wind = partial(featurize, domain="wind")
process_solar = partial(process, domain="solar")
process_wind = partial(process, domain="wind")
