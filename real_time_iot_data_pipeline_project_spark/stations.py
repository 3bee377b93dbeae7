"""Static station registry — the engine's broadcast dimension tables.

Values from the reference registries (``Solar_Generation.py:39-67``,
``Wind_Genration.py:50-54``) and the capacity map the reference's own
Spark notebook builds with ``create_map`` (docx §solar:create_col_spark).

At scale these are classic tiny dimensions: always broadcast-joined
(never shuffled), so a fact-side scan of 100 TB pays zero join shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# capacity map used for capacity_utilization_% (docx §solar:create_col_spark):
# station capacity in kW
SOLAR_CAPACITY_KW = {"BSPP": 1_650_000, "KOSPP": 200_000, "ZFSPP": 25_000}

_SOLAR_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("station_name", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("capacity_MW", T.DoubleType(), False),
        T.StructField("num_panels_est", T.LongType(), False),
    ]
)

_WIND_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType(), False),
        T.StructField("station_name", T.StringType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
        T.StructField("num_turbines", T.IntegerType(), False),
    ]
)


def _literal_dim(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """The rows as a literal table: no Python RDD, so no Python worker
    is started to scan it. Non-null literals keep the schema's
    nullability."""
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, schema.fields)])
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def solar_station_dim(spark: SparkSession) -> DataFrame:
    return _literal_dim(spark, SOLAR_STATIONS, _SOLAR_SCHEMA)


def wind_station_dim(spark: SparkSession) -> DataFrame:
    return _literal_dim(spark, WIND_STATIONS, _WIND_SCHEMA)


def solar_capacity_map_col() -> F.Column:
    """``create_map`` literal station_id → capacity kW, as the reference's
    notebook does — avoids even a broadcast for a 3-entry lookup."""
    pairs: list[F.Column] = []
    for sid, cap in SOLAR_CAPACITY_KW.items():
        pairs.extend([F.lit(sid), F.lit(cap)])
    return F.create_map(*pairs)
