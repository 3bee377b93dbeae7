"""Incremental star maintenance (S14 streaming completion): two
micro-batches through foreachBatch upserts must produce a star whose
denormalized content equals the batch build_wind_star over the union,
and a replayed batch (exactly-once) must change nothing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark.operators import features
from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw
from real_time_iot_data_pipeline_project_spark.stations import wind_station_dim
from real_time_iot_data_pipeline_project_spark.warehouse import incremental, star


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_star_equals_batch_rebuild(spark, tmp_path):
    processed = features.process_wind(
        generate_wind_raw(spark, n_rows=240), deterministic_dedup=True
    ).localCheckpoint()
    stations = wind_station_dim(spark)

    # split the processed rows into two disjoint micro-batches
    b1 = processed.filter(F.minute("timestamp") % 2 == 0)
    b2 = processed.filter(F.minute("timestamp") % 2 == 1)
    assert b1.count() > 0 and b2.count() > 0

    src = str(tmp_path / "src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    base = str(tmp_path / "star")
    stream = (
        spark.readStream.schema(processed.schema)
        .option("maxFilesPerTrigger", 1)  # force >= 2 micro-batches
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            incremental.star_upsert_fn(spark, stations, base, "wind")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    inc = incremental.read_star(spark, base, "wind")
    # >= 2 fact batch directories actually landed
    n_batches = inc["Fact_Wind"].select("batch_id").distinct().count()
    assert n_batches >= 2

    # FK integrity: every fact key resolves in its dim
    fact = inc["Fact_Wind"]
    for dim_name, key in [
        ("Dim_DateTime", "datetime_key"),
        ("Dim_WindStation", "station_key"),
        ("Dim_WeatherWind", "weather_key"),
    ]:
        assert fact.join(inc[dim_name], key, "left_anti").count() == 0

    # dims hold no duplicates after incremental appends
    dt = inc["Dim_DateTime"]
    assert dt.count() == dt.select("datetime_key").distinct().count()
    wx = inc["Dim_WeatherWind"]
    assert wx.count() == wx.select("weather_key").distinct().count()
    assert wx.count() == wx.drop("weather_key").distinct().count()

    # the semantic test: denormalized incremental star == batch rebuild
    batch_tables = star.build_wind_star(processed, stations)
    assert _rows(incremental.denormalize(inc, "wind")) == _rows(
        incremental.denormalize(batch_tables, "wind")
    )
    # keys are taken from the rows, so they match the batch build key for key
    keys = ["station_key", "datetime_key", "weather_key"]
    assert _rows(fact.select(*keys)) == _rows(batch_tables["Fact_Wind"].select(*keys))

    # exactly-once: replaying an already-applied batch is a no-op on the
    # dims and overwrites (not duplicates) its own fact directory
    before_dt, before_wx = dt.count(), wx.count()
    before_fact = fact.count()
    incremental.upsert_star_batch(spark, b1, stations, base, "wind", batch_id=0)
    inc2 = incremental.read_star(spark, base, "wind")
    assert inc2["Dim_DateTime"].count() == before_dt
    assert inc2["Dim_WeatherWind"].count() == before_wx
    assert inc2["Fact_Wind"].count() == before_fact
    assert _rows(incremental.denormalize(inc2, "wind")) == _rows(
        incremental.denormalize(batch_tables, "wind")
    )


def test_incremental_weather_key_on_disk_with_other_tuple_raises(spark, tmp_path):
    processed = features.process_wind(
        generate_wind_raw(spark, n_rows=60), deterministic_dedup=True
    ).localCheckpoint()
    stations = wind_station_dim(spark)
    base = str(tmp_path / "star")
    incremental.upsert_star_batch(spark, processed, stations, base, "wind", batch_id=0)

    # tamper one tuple on disk under its key: a replay must raise, not skip it
    wx_path = f"{base}/Dim_WeatherWind"
    wx = spark.read.parquet(wx_path).localCheckpoint()
    victim = wx.select("weather_key").head()[0]
    tampered = wx.withColumn(
        "wind_speed_mps",
        F.when(F.col("weather_key") == victim, F.col("wind_speed_mps") + 1.0)
        .otherwise(F.col("wind_speed_mps")),
    )
    tampered.write.mode("overwrite").parquet(str(tmp_path / "wx_tampered"))
    spark.read.parquet(str(tmp_path / "wx_tampered")).write.mode("overwrite").parquet(wx_path)
    with pytest.raises(Exception, match="is on disk with another tuple"):
        incremental.upsert_star_batch(spark, processed, stations, base, "wind", batch_id=1)
