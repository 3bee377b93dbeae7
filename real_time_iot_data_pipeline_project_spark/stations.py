"""Static station registry — the engine's broadcast dimension tables.

The registry rows and their schemas live on the domain records
(``schemas.DOMAINS``), with the values of the reference registries
(``Solar_Generation.py:39-67``, ``Wind_Genration.py:50-54``).

At scale these are classic tiny dimensions: always broadcast-joined
(never shuffled), so a fact-side scan of 100 TB pays zero join shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import DOMAINS


def station_dim(spark: SparkSession, domain: str) -> DataFrame:
    """The domain's registry rows as a literal table: no Python RDD, so
    no Python worker is started to scan it. Non-null literals keep the
    schema's nullability."""
    d = DOMAINS[domain]
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(row, d.station_schema.fields)])
        for row in d.stations
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


def solar_station_dim(spark: SparkSession) -> DataFrame: return station_dim(spark, "solar")


def wind_station_dim(spark: SparkSession) -> DataFrame: return station_dim(spark, "wind")
