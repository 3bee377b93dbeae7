"""Star-schema key contract: every surrogate key is computed from the row
it describes. The weather key is a hash whose uniqueness the dim build
checks in its own job; the station key comes from the static registry;
the station dims are literal tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark import schemas, stations
from real_time_iot_data_pipeline_project_spark.warehouse import star

WX = ["a", "b"]
WIND_IDS = schemas.DOMAINS["wind"].station_ids


def _processed(spark, rows):
    return spark.createDataFrame(
        rows, "timestamp timestamp, station_id string, a double, b double, m double"
    ).localCheckpoint()


def test_unique_key_rows_raises_on_forced_collision(spark):
    two_tuples = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)], "a double, b double")
    with pytest.raises(Exception, match="carries more than one tuple"):
        star.unique_key_rows(two_tuples.withColumn("k", F.lit(7)), "k", WX).collect()


def test_weather_dim_raises_when_nulls_collide(spark):
    """xxhash64 skips nulls, so (null, 1.0) and (1.0, null) share a key;
    the null-aware check must refuse them, not merge them."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    processed = _processed(spark, [(ts, "GZWF", None, 1.0, 0.0), (ts, "GZWF", 1.0, None, 0.0)])
    assert processed.select(star.weather_key(WX)).distinct().count() == 1
    with pytest.raises(Exception, match="carries more than one tuple"):
        star.build_weather_dim(processed, WX).collect()


def test_signed_zero_and_nan_tuples_get_one_dim_row(spark):
    import datetime as dt

    ts = [dt.datetime(2024, 1, 1, h) for h in range(4)]
    nan = float("nan")
    processed = _processed(spark, [
        (ts[0], "GZWF", 0.0, 5.0, 1.0),
        (ts[1], "WBWF", -0.0, 5.0, 2.0),
        (ts[2], "GZWF", nan, 6.0, 3.0),
        (ts[3], "ZFWF", nan, 6.0, 4.0),
    ])
    dim = star.build_weather_dim(processed, WX).localCheckpoint()
    assert dim.count() == 2
    assert dim.select("weather_key").distinct().count() == 2
    fact = star.build_fact(processed, WIND_IDS, WX, ["m"])
    assert fact.count() == 4
    assert fact.join(dim, "weather_key", "left_anti").count() == 0


def test_unknown_station_id_raises(spark):
    import datetime as dt

    processed = _processed(spark, [(dt.datetime(2024, 1, 1), "NOPE", 1.0, 2.0, 3.0)])
    with pytest.raises(Exception, match="NOPE is not in the station registry"):
        star.build_fact(processed, WIND_IDS, WX, ["m"]).collect()
    unknown_dim = spark.createDataFrame([("NOPE",)], "station_id string")
    with pytest.raises(Exception, match="NOPE is not in the station registry"):
        star.build_station_dim(unknown_dim, WIND_IDS).collect()


@pytest.mark.parametrize("build, rows, schema", [
    (stations.solar_station_dim, schemas.SOLAR_STATIONS, schemas.DOMAINS["solar"].station_schema),
    (stations.wind_station_dim, schemas.WIND_STATIONS, schemas.DOMAINS["wind"].station_schema),
])
def test_station_dims_are_literal_tables(spark, build, rows, schema):
    dim = build(spark)
    assert dim.schema == schema  # nullability included
    assert [tuple(r) for r in dim.collect()] == rows
    plans = dim._jdf.queryExecution().toString()
    assert "LogicalRDD" not in plans and "ExistingRDD" not in plans
