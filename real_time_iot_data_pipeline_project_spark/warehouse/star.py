"""Star-schema DWH build — the T-SQL DDL in ``DWH/SQL queries.docx``
(Dim_DateTime, Dim_SolarStation, Dim_WindStation, Dim_WeatherSolar,
Dim_WeatherWind, Fact_Solar, Fact_Wind) re-expressed as DataFrame ETL.
One ``build_star`` serves both domains; table names, weather columns,
measures and station ids come from the domain record.

Every surrogate key is computed from the row it describes, so the fact
is one narrow projection of the processed rows — no join, no window, no
exchange — and a dim and its fact agree on a key without ever meeting:

- ``datetime_key`` = ``unix_micros(timestamp)``: unique at timestamp
  grain and stable across rebuilds;
- ``station_key`` = dense 1..n in ``station_id`` order of the static
  registry (``schemas.DOMAINS``), applied as the same literal ``create_map``
  in the dim and the fact. A ``station_id`` outside the registry raises
  instead of losing its fact rows;
- ``weather_key`` = ``xxhash64`` of the weather tuple. Weather dims are
  degenerate (about one distinct tuple per fact row), so a dense
  ``row_number`` key would cost a global single-partition window plus a
  fact join on 4–7 double columns. A 64-bit hash can collide, so the dim
  build checks that each key carries one tuple inside the aggregate that
  already collapses the tuples (``unique_key_rows``): the check costs no
  extra pass, and a collision fails the write instead of merging two
  tuples silently.

``fact_id`` is ``monotonically_increasing_id`` (partition-local, no
coordination).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import DOMAINS


def datetime_key() -> Column:
    return F.unix_micros(F.col("timestamp"))


def station_key(station_ids: list[str]) -> Column:
    """Dense key from 1 in ``station_id`` order, as a literal map (the
    capacity lookup idiom); an unknown id raises."""
    pairs: list[Column] = []
    for key, sid in enumerate(sorted(station_ids), 1):
        pairs.extend([F.lit(sid), F.lit(key)])
    sid = F.col("station_id")
    return F.coalesce(
        F.create_map(*pairs)[sid],
        F.raise_error(F.format_string("station_id %s is not in the station registry", sid)),
    )


def weather_key(weather_cols: list[str]) -> Column:
    return F.xxhash64(*weather_cols)


def unique_key_rows(rows: DataFrame, key: str, cols: list[str]) -> DataFrame:
    """One row per ``key`` with its ``cols``. Raises, in the same job, if a
    key carries two different tuples: the smallest and largest tuple of
    each key must be equal. Tuples compare as Spark orders them: -0.0 =
    0.0, NaN = NaN, null equals only null."""
    tup = F.struct(*cols)
    checked = F.when(F.col("_lo").eqNullSafe(F.col("_hi")), F.col(key)).otherwise(
        F.raise_error(F.format_string(f"{key} %s carries more than one tuple of {cols}", F.col(key)))
    )
    return (
        rows.groupBy(key).agg(F.min(tup).alias("_lo"), F.max(tup).alias("_hi"))
        .select("_lo.*", checked.alias(key))
    )


def build_datetime_dim(processed: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Dim_DateTime: one row per distinct timestamp with calendar
    attributes (docx §Dim_DateTime: year/quarter/month/day/hour/
    day_of_week/time_of_day)."""
    base = (
        processed.select(F.col(ts_col).alias("timestamp"), "local_timestamp")
        .dropDuplicates(["timestamp"])
        .withColumn("year", F.year("local_timestamp"))
        .withColumn("quarter", F.quarter("local_timestamp"))
        .withColumn("month", F.month("local_timestamp"))
        .withColumn("day", F.dayofmonth("local_timestamp"))
        .withColumn("hour", F.hour("local_timestamp"))
        .withColumn("day_of_week", F.date_format("local_timestamp", "EEEE"))
        .withColumn(
            "time_of_day",
            F.when((F.hour("local_timestamp") >= 6) & (F.hour("local_timestamp") < 18), "Day").otherwise("Night"),
        )
    )
    return base.withColumn("datetime_key", datetime_key())


def build_station_dim(station_df: DataFrame, station_ids: list[str]) -> DataFrame:
    """Dim_SolarStation / Dim_WindStation from the registry dimension."""
    return station_df.withColumn("station_key", station_key(station_ids))


def build_weather_dim(processed: DataFrame, weather_cols: list[str]) -> DataFrame:
    """Dim_WeatherSolar / Dim_WeatherWind: distinct weather tuples."""
    keyed = processed.select(*weather_cols, weather_key(weather_cols).alias("weather_key"))
    return unique_key_rows(keyed, "weather_key", weather_cols)


def build_fact(processed: DataFrame, station_ids: list[str],
               weather_cols: list[str], measure_cols: list[str]) -> DataFrame:
    """Fact_Solar / Fact_Wind: the processed rows' keys and measures."""
    return processed.select(
        F.monotonically_increasing_id().alias("fact_id"),
        station_key(station_ids).alias("station_key"),
        datetime_key().alias("datetime_key"),
        weather_key(weather_cols).alias("weather_key"),
        *measure_cols,
    )


def build_star(processed: DataFrame, station_dim: DataFrame, domain: str) -> dict[str, DataFrame]:
    """The domain's four star tables, named as in the DDL."""
    d = DOMAINS[domain]
    return {
        "Dim_DateTime": build_datetime_dim(processed),
        d.station_table: build_station_dim(station_dim, d.station_ids),
        d.weather_table: build_weather_dim(processed, d.weather_columns),
        d.fact_table: build_fact(processed, d.station_ids, d.weather_columns, d.measure_columns),
    }


build_solar_star = partial(build_star, domain="solar")
build_wind_star = partial(build_star, domain="wind")


def save_star(tables: dict[str, DataFrame], base_path: str) -> None:
    """S14 — persist as parquet tables (saveAsTable equivalent without a
    metastore dependency)."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{base_path}/{name}")
