"""Explicit schemas for the telemetry streams, and the domain records.

``DOMAINS`` holds one frozen ``Domain`` per telemetry domain (solar,
wind): raw schema, validation rules, derived column, measures, station
registry and star table names. It is the one place a domain is defined;
every pipeline stage reads it and none branches on the domain name.

The raw schemas reproduce the reference's own declared Spark schemas
(``Azure/transformation in databricks in azure.docx`` §solar:schema,
§wind:schema) and CSV field orders (``Solar_Generation.py:157-162``,
``Wind_Genration.py:62-68``). The wind schema in the reference notebook
omits ``farm_energy_MWh_10min`` — a real schema-drift case; we carry the
full 14-field producer schema and tolerate the missing column on read
(see operators.schema_drift).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import physics

# --- solar reading (producer emit: Solar_Generation.py:94-103,144-151) ---
SOLAR_RAW_SCHEMA = T.StructType(
    [
        # transit form: ISO-8601 string, tz-aware (+00:00); parsed by
        # operators.cleaning.normalize_timestamp → TimestampType
        T.StructField("timestamp", T.StringType()),
        T.StructField("station_id", T.StringType()),
        T.StructField("data_source", T.StringType()),  # {API, PREDICTION}
        T.StructField("temperature_C", T.DoubleType()),
        T.StructField("panel_temperature_C", T.DoubleType()),
        T.StructField("solar_irradiance_Wm2", T.DoubleType()),
        T.StructField("effective_efficiency", T.DoubleType()),
        T.StructField("power_kW", T.DoubleType()),
        T.StructField("energy_kWh_10min", T.DoubleType()),
    ]
)

# Azure producer variant adds weather context (producer_solar.py:75-81)
SOLAR_RAW_AZURE_SCHEMA = T.StructType(
    list(SOLAR_RAW_SCHEMA.fields)
    + [
        T.StructField("clouds_%", T.DoubleType()),
        T.StructField("pressure_hPa", T.DoubleType()),
        T.StructField("humidity_%", T.DoubleType()),
    ]
)

# --- wind reading (producer emit: Wind_Genration.py:138-150; 14 fields) ---
WIND_RAW_SCHEMA = T.StructType(
    [
        # transit form: naive ISO-8601, some rows with a literal 'UTC'
        # suffix (Wind_Processing.py:23)
        T.StructField("timestamp", T.StringType()),
        T.StructField("station_id", T.StringType()),
        T.StructField("data_source", T.StringType()),
        T.StructField("wind_speed_mps", T.DoubleType()),
        T.StructField("wind_dir_deg", T.DoubleType()),
        T.StructField("air_temperature_C", T.DoubleType()),
        T.StructField("air_pressure_hPa", T.DoubleType()),
        T.StructField("humidity_percent", T.DoubleType()),
        T.StructField("air_density_kgm3", T.DoubleType()),
        T.StructField("wind_speed_hub_mps", T.DoubleType()),
        T.StructField("turbine_power_kW", T.DoubleType()),
        T.StructField("farm_power_kW", T.DoubleType()),
        T.StructField("farm_energy_kWh_10min", T.DoubleType()),
        # absent from the docx §wind:schema StructType — schema drift case
        T.StructField("farm_energy_MWh_10min", T.DoubleType()),
    ]
)

# Dedup key (Solar_Processing.py:34; docx §solar:validation_spark)
DEDUP_KEYS = ["station_id", "timestamp"]

# --- station registries (Solar_Generation.py:39-67, Wind_Genration.py:50-54) ---
SOLAR_STATIONS = [
    # (station_id, station_name, lat, lon, capacity_MW, num_panels_est)
    ("BSPP", "Benban Solar Park", 24.4560, 32.7390, 1650.0, 4_125_000),
    ("KOSPP", "Kom Ombo Solar Plant", 24.6325, 32.8398, 200.0, 500_000),
    ("ZFSPP", "Zafarana Solar Power Plant", 29.2, 32.6, 25.0, 62_500),
]
WIND_STATIONS = [
    # (station_id, station_name, lat, lon, num_turbines)
    ("WBWF", "West Bakr Wind Farm", 28.531306, 32.823417, 96),
    ("GZWF", "Gabal Elzeit Wind Farm", 29.2, 32.5, 290),
    ("ZFWF", "Zafarana Wind Farm", 29.22, 33.6, 50),
]


def _station_schema(**extra: T.DataType) -> T.StructType:
    """The registry columns every domain has, then ``extra``; none nullable."""
    cols = {"station_id": T.StringType(), "station_name": T.StringType(),
            "lat": T.DoubleType(), "lon": T.DoubleType(), **extra}
    return T.StructType([T.StructField(n, t, False) for n, t in cols.items()])


def _capacity_utilization_pct() -> Column:
    """``power_kW`` over the station's capacity in kW, looked up in a
    literal ``create_map`` built from the registry's ``capacity_MW``, as
    the reference's notebook does (docx §solar:create_col_spark)."""
    pairs = [(sid, int(mw * 1000)) for sid, *_, mw, _ in SOLAR_STATIONS]
    capacity_kw = F.create_map(*[F.lit(v) for pair in pairs for v in pair])
    return physics.capacity_utilization_pct("power_kW", capacity_kw[F.col("station_id")])


@dataclass(frozen=True)
class Domain:
    """One telemetry domain, as data. Every pipeline stage (cleaning,
    features, streaming, star schema, dashboard) reads this record and
    has one code path for all domains; a new domain, or a change to a
    domain's bounds or columns, is an edit here only."""

    raw_schema: T.StructType
    # validation (Solar_Processing.py:15-32, Wind_Processing.py:17-38,
    # docx §solar:validation_spark, §wind:clean_df). The bounds are the
    # Spark notebook's canonical ones; the pandas batch variant's tighter
    # solar bounds (irr <= 1200, power <= 2e6) are not used (SURVEY.md §7).
    required_columns: list[str]
    range_bounds: dict[str, tuple[float, float]]
    fill_defaults: dict[str, float]
    # features: ``is_valid`` = all of these non-null, plus one physics column
    validity_columns: list[str]
    derived_column: str
    derive: Callable[[], Column]
    # measures read by the star schema and the dashboard
    power_column: str
    energy_column: str
    weather_columns: list[str]
    measure_columns: list[str]
    # station registry and star table names (DWH/SQL queries.docx)
    stations: list[tuple]
    station_schema: T.StructType
    station_table: str
    weather_table: str
    fact_table: str
    # wind speed column: adds the speed-power correlation, regression and
    # wind-class panels to the dashboard (Wind_Dashboard.py)
    speed_column: str | None = None

    @property
    def station_ids(self) -> list[str]:
        return [row[0] for row in self.stations]


DOMAINS = {
    "solar": Domain(
        raw_schema=SOLAR_RAW_SCHEMA,
        required_columns=["timestamp", "station_id", "solar_irradiance_Wm2", "power_kW"],
        range_bounds={"power_kW": (0.0, 2e7), "solar_irradiance_Wm2": (0.0, 1500.0),
                      "effective_efficiency": (0.0, 0.25)},
        fill_defaults={"temperature_C": 25.0, "humidity_%": 50.0},
        validity_columns=["solar_irradiance_Wm2", "power_kW", "temperature_C"],
        derived_column="capacity_utilization_pct",
        derive=_capacity_utilization_pct,
        power_column="power_kW",
        energy_column="energy_kWh_10min",
        weather_columns=["temperature_C", "panel_temperature_C", "solar_irradiance_Wm2",
                         "effective_efficiency"],
        measure_columns=["power_kW", "energy_kWh_10min"],
        stations=SOLAR_STATIONS,
        station_schema=_station_schema(capacity_MW=T.DoubleType(), num_panels_est=T.LongType()),
        station_table="Dim_SolarStation",
        weather_table="Dim_WeatherSolar",
        fact_table="Fact_Solar",
    ),
    "wind": Domain(
        raw_schema=WIND_RAW_SCHEMA,
        required_columns=["timestamp", "station_id", "wind_speed_mps", "farm_power_kW"],
        range_bounds={"wind_speed_mps": (0.0, 60.0), "air_temperature_C": (-50.0, 60.0),
                      "farm_power_kW": (0.0, 2e7)},
        fill_defaults={"air_pressure_hPa": 1013.25, "humidity_percent": 50.0},
        validity_columns=["wind_speed_mps", "farm_power_kW", "air_temperature_C"],
        derived_column="wind_power_density",
        derive=lambda: physics.wind_power_density("air_density_kgm3", "wind_speed_mps"),
        power_column="farm_power_kW",
        energy_column="farm_energy_kWh_10min",
        weather_columns=["wind_speed_mps", "wind_dir_deg", "air_temperature_C", "air_pressure_hPa",
                         "humidity_percent", "air_density_kgm3", "wind_speed_hub_mps"],
        measure_columns=["turbine_power_kW", "farm_power_kW", "farm_energy_MWh_10min",
                         "wind_power_density"],
        stations=WIND_STATIONS,
        station_schema=_station_schema(num_turbines=T.IntegerType()),
        station_table="Dim_WindStation",
        weather_table="Dim_WeatherWind",
        fact_table="Fact_Wind",
        speed_column="wind_speed_mps",
    ),
}
