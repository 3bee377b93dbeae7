"""Unit tests: timestamp normalization (all four messy shapes), range
filter null semantics, fillna, dedup determinism, required-column check."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark.functions import timeutils
from real_time_iot_data_pipeline_project_spark.operators import cleaning


def test_normalize_timestamp_four_shapes(spark):
    rows = [
        ("2025-11-04 20:13:36.536371+00:00",),  # tz-aware solar
        ("2025-11-04T20:13:36.536371",),        # naive ISO w/ T
        ("2025-11-04 20:13:36.536371 UTC",),    # literal UTC suffix
        ("not-a-timestamp",),                   # coerce → null
    ]
    df = spark.createDataFrame(rows, ["timestamp"]).withColumn(
        "parsed", timeutils.normalize_timestamp("timestamp")
    )
    got = [r.parsed for r in df.collect()]
    assert got[0] is not None and got[1] is not None and got[2] is not None
    assert got[0] == got[1] == got[2]
    assert got[3] is None


# Timestamp shapes: ISO with 'T' and with a space, offsets, 'Z', a 'UTC'
# suffix with and without a space, padding, date only, truncated times,
# garbage and an invalid date, then the FIXTURES.md and perfbench/gen.py
# forms. ``parses`` says whether the shape must give a timestamp.
TIMESTAMP_SHAPES = [
    ("2025-11-04T20:13:36.536371", True),
    ("2025-11-04 20:13:36.536371", True),
    ("2025-11-04T20:13:36+02:00", True),
    ("2025-11-04 20:13:36-05:30", True),
    ("2025-11-04T20:13:36+0200", True),
    ("2025-11-04T20:13:36Z", True),
    ("2025-11-04T20:13:36 UTC", True),
    ("2025-11-04T20:13:36UTC", True),
    ("  2025-11-04T20:13:36  ", True),
    ("2025-11-04", True),
    ("2025-11-04T20", True),
    ("2025-11-04T20:13", True),
    ("garbage", False),
    ("2025-02-30", False),
    ("2025-02-30T10:00:00", False),
    ("T", False),
    ("", False),
    ("2025-11-04 20:13:36.536371+00:00", True),
    ("2025-11-04 20:13:36.536371 UTC", True),
    ("2025-11-04T20:13:36.536371UTC", True),
    ("2025-03-01T12:34:56", True),
    ("2025-03-01T12:34:56 UTC", True),
    ("not-a-timestamp", False),
    ("N/A", False),
    (None, False),
]


@pytest.fixture(scope="module")
def parsed_shapes(spark):
    """Each shape through ``normalize_timestamp`` and through the former
    two-branch expression, whose second branch retried with 'T' replaced
    by a space: shape → (got, want), in one job."""
    df = spark.createDataFrame([(s,) for s, _ in TIMESTAMP_SHAPES], "ts string")
    cleaned = F.trim(F.regexp_replace(F.col("ts").cast("string"), "UTC", ""))
    two_branch = F.coalesce(
        F.try_to_timestamp(cleaned),
        F.try_to_timestamp(F.regexp_replace(cleaned, "T", " ")),
    )
    rows = df.select("ts", timeutils.normalize_timestamp("ts").alias("got"), two_branch.alias("want"))
    return {r.ts: (r.got, r.want) for r in rows.collect()}


@pytest.mark.parametrize("shape, parses", TIMESTAMP_SHAPES)
def test_normalize_timestamp_needs_no_t_fallback(parsed_shapes, shape, parses):
    got, want = parsed_shapes[shape]
    assert got == want
    assert (got is not None) == parses


def test_range_filter_drops_nulls_in_bounded_columns(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (100.0,)], "v double"
    )
    out = cleaning.apply_range_filter(df, {"v": (0.0, 50.0)})
    assert [r.v for r in out.collect()] == [1.0]


def test_range_filter_inclusive_bounds(spark):
    df = spark.createDataFrame([(0.0,), (50.0,), (-0.1,), (50.1,)], "v double")
    out = cleaning.apply_range_filter(df, {"v": (0.0, 50.0)})
    assert sorted(r.v for r in out.collect()) == [0.0, 50.0]


def test_fill_defaults_only_touches_nulls(spark):
    df = spark.createDataFrame([(None,), (10.0,)], "temperature_C double")
    out = cleaning.fill_defaults(df, {"temperature_C": 25.0, "absent_col": 1.0})
    assert sorted(r.temperature_C for r in out.collect()) == [10.0, 25.0]


def test_dedup_deterministic_keeps_first_by_order(spark):
    df = spark.createDataFrame(
        [("s1", "t1", 1, "first"), ("s1", "t1", 2, "second"), ("s2", "t1", 3, "only")],
        ["station_id", "timestamp", "seq", "tag"],
    )
    out = cleaning.deduplicate(df, keys=["station_id", "timestamp"], order_col="seq")
    tags = {r.station_id: r.tag for r in out.collect()}
    assert tags == {"s1": "first", "s2": "only"}


def test_require_columns_raises(spark):
    df = spark.createDataFrame([(1,)], ["a"])
    with pytest.raises(cleaning.SchemaValidationError):
        cleaning.require_columns(df, ["a", "missing"])


def test_clean_wind_filters_pushed_to_scan(spark, tmp_path):
    """Scale check: range predicates must reach the parquet reader."""
    from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw

    raw = generate_wind_raw(spark, n_rows=500)
    p = str(tmp_path / "wind_parquet")
    raw.write.parquet(p)
    df = spark.read.parquet(p)
    cleaned = cleaning.clean_wind(df)
    plan = cleaned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(wind_speed_mps)" in plan
