"""Deterministic synthetic telemetry generator (SURVEY.md §3.3 producer
lifecycle, F25): replaces the reference's OpenWeatherMap + Streamlit
producers (``Solar_Generation.py``, ``Wind_Genration.py``) with a seeded,
network-free Spark job — ``spark.range`` + Column expressions, so
generation itself is distributed and scales to any row count.

Physics identical to functions.physics; noise via ``rand(seed)`` and
sin-based diurnal patterns (Solar_Generation.py:182-189,
Wind_Genration.py:206-223). ~5% of rows exercise each dirty-data path
(nulls / out-of-range / duplicates / timestamp format variants) per
FIXTURES.md so filters and dedup have observable effect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import physics
from ..schemas import SOLAR_STATIONS, WIND_STATIONS


def _station_pick(idx_col: F.Column, ids: list[str]) -> F.Column:
    pick = None
    for i, sid in enumerate(ids):
        cond = idx_col % len(ids) == i
        pick = F.when(cond, sid) if pick is None else pick.when(cond, sid)
    return pick


def _base(spark: SparkSession, n_rows: int, ids: list[str], seed: int,
          start: str, step_seconds: int) -> DataFrame:
    df = spark.range(n_rows).withColumnRenamed("id", "idx")
    ts = F.to_timestamp(F.lit(start)) + F.make_interval(
        secs=(F.col("idx") / len(ids)).cast("long") * step_seconds
    )
    return (
        df.withColumn("station_id", _station_pick(F.col("idx"), ids))
        .withColumn("event_ts", ts)
        .withColumn("u1", F.rand(seed))
        .withColumn("u2", F.rand(seed + 1))
        .withColumn("u3", F.rand(seed + 2))
        .withColumn(
            "data_source",
            F.when(F.col("u3") < 0.1, "API").otherwise("PREDICTION"),
        )
        .withColumn("hour_f", F.hour("event_ts") + F.minute("event_ts") / 60.0)
    )


def _dirty_timestamp(df: DataFrame, naive: bool, utc_suffix_frac: float,
                     bad_frac: float) -> DataFrame:
    """Serialize event_ts into the domain's messy string form: solar
    tz-aware ISO / wind naive ISO, ~utc_suffix_frac rows with a literal
    'UTC' suffix, ~bad_frac unparseable strings (→ null after coerce),
    per FIXTURES.md."""
    iso = F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if not naive:
        iso = F.concat(iso, F.lit("+00:00"))
    ts = F.when(F.col("u1") < bad_frac, F.lit("not-a-timestamp")).otherwise(
        F.when(F.col("u2") < utc_suffix_frac, F.concat(iso, F.lit(" UTC"))).otherwise(iso)
    )
    return df.withColumn("timestamp", ts)


def generate_solar_raw(spark: SparkSession, n_rows: int = 10_000,
                       seed: int = 42, start: str = "2025-11-04 00:00:00",
                       step_seconds: int = 5) -> DataFrame:
    """Solar raw telemetry in transit form (string timestamps, dirty rows).
    Columns match schemas.SOLAR_RAW_SCHEMA."""
    ids = [s[0] for s in SOLAR_STATIONS]
    panels = {s[0]: s[5] for s in SOLAR_STATIONS}
    df = _base(spark, n_rows, ids, seed, start, step_seconds)

    # diurnal irradiance: clouds ~ U(0,80), night → 0
    clouds = F.col("u1") * 80.0
    diurnal = F.sin((F.col("hour_f") - 6.0) * math.pi / 12.0)
    is_day = (F.col("hour_f") >= 6.0) & (F.col("hour_f") < 18.0)
    irr = F.when(is_day, physics.irradiance_from_clouds(clouds) * F.greatest(F.lit(0.2), diurnal)).otherwise(F.lit(0.0))
    temp = F.lit(25.0) + F.col("u2") * 10.0 - 3.0
    panel_t = physics.panel_temperature(temp, F.lit(3.0) + F.col("u3") * 5.0)
    eff = F.when(is_day, physics.effective_efficiency(panel_t)).otherwise(F.lit(0.0))
    n_panels = _map_lookup(panels)
    power = physics.solar_power_kw(irr, eff, n_panels)

    out = (
        df.withColumn("temperature_C", F.round(F.when(F.col("u3") < 0.03, None).otherwise(temp), 2))
        .withColumn("panel_temperature_C", F.round(panel_t, 2))
        .withColumn(
            "solar_irradiance_Wm2",
            F.round(F.when(F.col("u1") > 0.97, F.lit(-50.0)).otherwise(irr), 2),
        )
        .withColumn("effective_efficiency", F.round(eff, 6))
        .withColumn("power_kW", F.round(power, 3))
        .withColumn("energy_kWh_10min", F.round(physics.energy_kwh(power), 3))
    )
    out = _dirty_timestamp(out, naive=False, utc_suffix_frac=0.0, bad_frac=0.01)
    out = out.select(
        "timestamp", "station_id", "data_source", "temperature_C",
        "panel_temperature_C", "solar_irradiance_Wm2", "effective_efficiency",
        "power_kW", "energy_kWh_10min",
    )
    return _inject_duplicates(out, frac_mod=50)


def generate_wind_raw(spark: SparkSession, n_rows: int = 10_000,
                      seed: int = 7, start: str = "2025-11-04 00:00:00",
                      step_seconds: int = 5) -> DataFrame:
    """Wind raw telemetry in transit form. Columns match
    schemas.WIND_RAW_SCHEMA (naive timestamps, ~10% 'UTC'-suffixed)."""
    ids = [s[0] for s in WIND_STATIONS]
    turbines = {s[0]: s[4] for s in WIND_STATIONS}
    df = _base(spark, n_rows, ids, seed, start, step_seconds)

    speed = F.lit(8.0) + F.lit(4.0) * F.sin(F.col("idx") * 0.1) + F.col("u1") * 6.0 - 3.0
    speed = F.greatest(F.lit(0.0), speed)
    speed = F.when(F.col("u2") > 0.98, F.lit(75.0)).otherwise(speed)  # outliers → filtered
    temp = F.lit(22.0) + F.col("u2") * 12.0 - 6.0
    pressure = F.when(F.col("u3") < 0.04, None).otherwise(F.lit(1013.25) + F.col("u3") * 20.0 - 10.0)
    humidity = F.when(F.col("u1") < 0.03, None).otherwise(F.col("u1") * 100.0)
    rho = physics.air_density(F.coalesce(pressure, F.lit(1013.25)), temp)
    hub = physics.hub_height_wind(speed)
    turbine_kw = physics.turbine_power_kw(rho, hub)
    n_turb = _map_lookup(turbines)
    farm_kw = physics.farm_power_kw(turbine_kw, n_turb)

    out = (
        df.withColumn("wind_speed_mps", F.round(speed, 2))
        .withColumn("wind_dir_deg", F.floor(F.col("u3") * 360.0).cast("double"))
        .withColumn("air_temperature_C", F.round(temp, 2))
        .withColumn("air_pressure_hPa", F.round(pressure, 2))
        .withColumn("humidity_percent", F.round(humidity, 2))
        .withColumn("air_density_kgm3", F.round(rho, 3))
        .withColumn("wind_speed_hub_mps", F.round(hub, 2))
        .withColumn("turbine_power_kW", F.round(turbine_kw, 2))
        .withColumn("farm_power_kW", F.round(farm_kw, 2))
        .withColumn("farm_energy_kWh_10min", F.round(physics.energy_kwh(farm_kw), 3))
        .withColumn("farm_energy_MWh_10min", F.round(physics.energy_kwh(farm_kw) / 1000.0, 6))
    )
    out = _dirty_timestamp(out, naive=True, utc_suffix_frac=0.10, bad_frac=0.01)
    out = out.select(
        "timestamp", "station_id", "data_source", "wind_speed_mps",
        "wind_dir_deg", "air_temperature_C", "air_pressure_hPa",
        "humidity_percent", "air_density_kgm3", "wind_speed_hub_mps",
        "turbine_power_kW", "farm_power_kW", "farm_energy_kWh_10min",
        "farm_energy_MWh_10min",
    )
    return _inject_duplicates(out, frac_mod=50)


def _map_lookup(mapping: dict[str, int]) -> F.Column:
    pairs: list[F.Column] = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)[F.col("station_id")]


def _inject_duplicates(df: DataFrame, frac_mod: int) -> DataFrame:
    """Append exact duplicates of ~1/frac_mod of rows (dedup fodder)."""
    dupes = df.limit(10_000).where(
        F.abs(F.hash(*df.columns)) % frac_mod == 0
    )
    return df.unionByName(dupes)
