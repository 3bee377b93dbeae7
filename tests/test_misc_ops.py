"""Schema drift mapper, warehouse star build, generator sanity,
analytics library units."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark.operators import analytics, schema_drift, windows


def test_detect_columns_fuzzy():
    cols = ["DateTime", "Station Name", "Power Output (kW)", "Irradiance W/m2", "Volt age"]
    m = schema_drift.detect_columns(cols, schema_drift.SOLAR_PATTERNS)
    assert m["timestamp"] == "DateTime"
    assert m["station"] == "Station Name"
    assert m["power_output"] == "Power Output (kW)"
    assert m["irradiance"] == "Irradiance W/m2"


def test_session_window_merges_exact_gap(spark):
    """Pins the boundary the q47 oracle depends on: a gap of exactly the
    session timeout MERGES (so the gaps-and-islands SQL must use strict
    '>'); one microsecond more splits."""
    from pyspark.sql import functions as F

    rows = [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:30:00"),
            ("v", "2024-01-01 00:00:00"), ("v", "2024-01-01 00:30:00.000001")]
    df = spark.createDataFrame(rows, ["user_id", "s"]).select(
        "user_id", F.to_timestamp("s").alias("ts"))
    out = (df.groupBy("user_id", F.session_window("ts", "30 minutes"))
           .agg(F.count(F.lit(1)).alias("n")))
    n_sessions = {r.user_id: r["count"] for r in out.groupBy("user_id").count().collect()}
    assert n_sessions == {"u": 1, "v": 2}


def test_display_name_prettifier(spark):
    # F29: replace('_',' ').title() parity (Solar_Dashboard.py:447)
    assert schema_drift.display_name("power_output_kw") == "Power Output Kw"
    df = spark.createDataFrame([("wind_speed_mps",)], ["metric"])
    out = df.select(schema_drift.display_name_col("metric").alias("label")).head()
    assert out.label == "Wind Speed Mps"


def test_display_name_col_exact_title_parity(spark):
    """display_name_col must equal Python str.title() even on tokens with
    digits/apostrophes, where initcap diverges ('output_2kw' →
    'Output 2Kw' not 'Output 2kw')."""
    tricky = ["output_2kw", "don't_stop", "a__b", "x", "3rd_rail",
              "ALL_CAPS", "mixed_CaSe_2x"]
    df = spark.createDataFrame([(t,) for t in tricky], ["metric"])
    got = {r.metric: r.label for r in df.select(
        "metric", schema_drift.display_name_col("metric").alias("label")
    ).collect()}
    for t in tricky:
        assert got[t] == schema_drift.display_name(t), t


def test_salted_join_rejects_outer(spark):
    import pytest

    left = spark.createDataFrame([(1, "l")], ["k", "lv"])
    right = spark.createDataFrame([(1, "r")], ["rk", "rv"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            analytics.salted_join(left, right, "k", "rk", salt=4, how=how)
    # left join stays row-identical to the plain join (unmatched left row
    # survives exactly once, not once per salt replica)
    left2 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "lv"])
    out = analytics.salted_join(left2, right, "k", "rk", salt=4, how="left")
    assert out.count() == 2
    assert out.filter(F.col("rv").isNull()).count() == 1


def test_normalize_schema_synthesizes_timestamp(spark):
    df = spark.createDataFrame([("S1", "10.5"), ("S2", "x")], ["Station", "Power kW"])
    out = schema_drift.normalize_schema(
        df, schema_drift.SOLAR_PATTERNS, numeric_cols=["power_output"]
    )
    rows = out.orderBy("timestamp").collect()
    assert "timestamp" in out.columns and rows[0].timestamp is not None
    # numeric coercion: 'x' → null (errors='coerce')
    assert rows[0].power_output == 10.5 and rows[1].power_output is None
    # synthesized 15-min spacing
    assert (rows[1].timestamp - rows[0].timestamp).total_seconds() == 900


def test_star_schema_build(spark):
    from real_time_iot_data_pipeline_project_spark.operators import features
    from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw
    from real_time_iot_data_pipeline_project_spark.stations import wind_station_dim
    from real_time_iot_data_pipeline_project_spark.warehouse import star

    processed = features.process_wind(generate_wind_raw(spark, n_rows=300))
    tables = star.build_wind_star(processed, wind_station_dim(spark))
    fact = tables["Fact_Wind"]
    n = fact.count()
    assert n == processed.count()
    # FK integrity by construction: every fact key resolves
    for dim_name, key in [
        ("Dim_DateTime", "datetime_key"),
        ("Dim_WindStation", "station_key"),
        ("Dim_WeatherWind", "weather_key"),
    ]:
        dim = tables[dim_name]
        assert fact.join(dim, key, "left_anti").count() == 0
    # datetime keys: deterministic (epoch-derived), unique, non-null —
    # NOT row_number (that would single-partition the build at scale)
    dt = tables["Dim_DateTime"]
    assert dt.filter(F.col("datetime_key").isNull()).count() == 0
    assert dt.select("datetime_key").distinct().count() == dt.count()
    # stable across rebuilds (row_number over a re-shuffled input is not)
    dt2 = star.build_datetime_dim(processed)
    assert dt.select("timestamp", "datetime_key").exceptAll(
        dt2.select("timestamp", "datetime_key")
    ).count() == 0
    # station keys come from the registry: dense from 1
    st = tables["Dim_WindStation"]
    assert st.agg(F.min("station_key")).head()[0] == 1
    assert st.agg(F.max("station_key")).head()[0] == st.count()


def test_generator_dirty_paths(spark):
    from real_time_iot_data_pipeline_project_spark.sources.generator import generate_wind_raw

    raw = generate_wind_raw(spark, n_rows=2000)
    c = raw.count()
    assert c > 2000  # duplicates appended
    assert raw.filter(F.col("timestamp").contains("UTC")).count() > 0
    assert raw.filter(F.col("timestamp") == "not-a-timestamp").count() > 0
    assert raw.filter(F.col("air_pressure_hPa").isNull()).count() > 0
    assert raw.filter(F.col("wind_speed_mps") > 60).count() > 0
    # deterministic: same seed → same data
    again = generate_wind_raw(spark, n_rows=2000)
    assert raw.exceptAll(again).count() == 0


def test_ranking_and_capacity_factor(spark):
    df = spark.createDataFrame(
        [("A", 10.0), ("A", 20.0), ("B", 40.0), ("B", 0.0)], ["station", "power"]
    )
    r = analytics.station_ranking(df, "station", {"total": "sum:power", "peak": "max:power"})
    rows = r.collect()
    assert rows[0].station == "B" and rows[0].total == 40.0 and rows[0].peak == 40.0
    cf = {r.station: r.capacity_factor_pct for r in
          analytics.capacity_factor(df, "station", "power").collect()}
    assert abs(cf["A"] - 15.0 / 40.0 * 100) < 1e-9
    assert abs(cf["B"] - 20.0 / 40.0 * 100) < 1e-9


def test_pivot_align_and_corr_matrix(spark):
    df = spark.createDataFrame(
        [(1, "A", 1.0), (1, "B", 2.0), (2, "A", 2.0), (2, "B", 4.0), (3, "A", 3.0), (3, "B", 6.0)],
        ["t", "k", "v"],
    )
    wide = analytics.pivot_align(df, "t", "k", "v", ["A", "B"])
    assert wide.count() == 3
    m = analytics.correlation_matrix(wide, ["A", "B"]).collect()
    by_pair = {(r.col_a, r.col_b): r.corr for r in m}
    assert abs(by_pair[("A", "B")] - 1.0) < 1e-9


def test_linear_regression_exact_line(spark):
    df = spark.createDataFrame([(float(x), 3.0 * x + 7.0) for x in range(10)], ["x", "y"])
    r = analytics.linear_regression(df, "x", "y").head()
    assert abs(r.slope - 3.0) < 1e-9
    assert abs(r.intercept - 7.0) < 1e-9
    assert abs(r.corr - 1.0) < 1e-9


def test_latest_per_key_and_delta(spark):
    df = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 2, 30.0), ("B", 1, 5.0)], ["k", "seq", "v"]
    )
    latest = windows.latest_per_key(df, "k", "seq")
    assert {(r.k, r.v) for r in latest.collect()} == {("A", 30.0), ("B", 5.0)}
    delta = windows.delta_vs_previous(df, "k", "seq", "v").filter("delta IS NOT NULL").head()
    assert delta.delta == 20.0


def test_histogram_pd_cut_semantics(spark):
    df = spark.createDataFrame([(0.0,), (1.0,), (3.0,), (3.1,), (7.0,), (100.0,)], "v double")
    out = {r.bin: r["count"] for r in analytics.histogram(df, "v", [0.0, 3.0, 7.0]).collect()}
    # 0.0 excluded (left-open), 3.0 in first bin (right-closed), 100 out of range
    assert out == {"(0.0, 3.0]": 2, "(3.0, 7.0]": 2}


def test_ewma_batch_matches_pandas_and_closed_form(spark):
    import pandas as pd

    from real_time_iot_data_pipeline_project_spark.operators import ewma

    vals = [10.0, 20.0, 5.0, 40.0, 12.0, 33.0]
    rows = [("A", i, v) for i, v in enumerate(vals)] + [("B", 0, 7.0), ("B", 1, 9.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    series = ewma.ewma(df, "k", "seq", "v", alpha=0.35)
    got = {(r.k, r.seq): r.smoothed for r in series.collect()}
    exp = pd.Series(vals).ewm(alpha=0.35, adjust=False).mean()
    for i in range(len(vals)):
        assert abs(got[("A", i)] - exp.iloc[i]) < 1e-12
    last = {r.k: (r.n_events, r.last_smoothed)
            for r in ewma.ewma_last(df, "k", "seq", "v", alpha=0.35).collect()}
    assert last["A"][0] == len(vals)
    assert abs(last["A"][1] - exp.iloc[-1]) < 1e-9
    assert abs(last["B"][1] - (0.65 * 7.0 + 0.35 * 9.0)) < 1e-12


def test_consume_and_process_cli_pipeline(spark, tmp_path):
    from real_time_iot_data_pipeline_project_spark import pipelines

    out = pipelines.consume_and_process(
        spark, "wind", "/root/reference/wind_farm_data_log.csv",
        str(tmp_path / "out"), output_format="parquet",
    )
    assert out.count() > 0
    written = spark.read.parquet(str(tmp_path / "out"))
    assert written.count() == out.count()
    # partitioned by station for pruning
    assert (tmp_path / "out" / "station_id=WBWF").exists()


def test_dashboard_panels(spark):
    from real_time_iot_data_pipeline_project_spark import pipelines

    processed = pipelines.consume_and_process(
        spark, "wind", "/root/reference/wind_farm_data_log.csv"
    )
    panels = pipelines.dashboard_panels(processed, "wind")
    assert set(panels) >= {"global_metrics", "station_energy", "ranking",
                           "speed_power_corr", "wind_class_counts"}
    ranking = panels["ranking"].collect()
    assert len(ranking) == 3  # three wind stations
    assert ranking[0].total_energy >= ranking[-1].total_energy
    corr = panels["speed_power_corr"].head().corr
    assert 0.3 < corr <= 1.0  # speed drives power


def test_asof_join_matches_pandas_semantics(spark):
    """Backward inclusive as-of: latest right row with r.ts <= l.ts per
    key; nulls before the first right row; tolerance nulls stale
    matches."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.operators import windows as W

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(2), 1.0), (2, t(5), 2.0), (3, t(9), 3.0), (4, t(1), 4.0)],
        "event_id long, ts timestamp, value double",
    ).withColumn("user_id", F.lit(7))
    right = spark.createDataFrame(
        [(7, t(1), 10.0), (7, t(5), 50.0), (7, t(7), 70.0)],
        "user_id long, ts timestamp, price double",
    )
    out = {r.event_id: (r.asof_price, r.asof_ts)
           for r in W.asof_join(left, right, on="ts", by=["user_id"],
                                value_cols=["price"]).collect()}
    assert out[4] == (10.0, t(1))     # inclusive: equal ts matches
    assert out[1] == (10.0, t(1))
    assert out[2] == (50.0, t(5))     # equal ts prefers the same-instant row
    assert out[3] == (70.0, t(7))

    # tolerance: match older than 3s becomes null
    out2 = {r.event_id: r.asof_price
            for r in W.asof_join(left, right, on="ts", by=["user_id"],
                                 value_cols=["price"],
                                 tolerance_seconds=3).collect()}
    assert out2[1] == 10.0 and out2[2] == 50.0 and out2[3] == 70.0
    assert out2[4] == 10.0

    # key with no right rows at all -> null match
    left2 = spark.createDataFrame([(9, t(5), 1.0)],
                                  "event_id long, ts timestamp, value double"
                                  ).withColumn("user_id", F.lit(99))
    o3 = W.asof_join(left2, right, on="ts", by=["user_id"],
                     value_cols=["price"]).head()
    assert o3.asof_price is None and o3.asof_ts is None


def test_asof_join_single_shuffle(spark):
    """The as-of join must plan as ONE exchange (the by-key window) —
    no range-join candidate explosion, no broadcast."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.operators import windows as W

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame([(1, t(2), 7)],
                                 "event_id long, ts timestamp, user_id long")
    right = spark.createDataFrame([(7, t(1), 10.0)],
                                  "user_id long, ts timestamp, price double")
    plan = (W.asof_join(left, right, on="ts", by=["user_id"],
                        value_cols=["price"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_pairs_and_plan(spark):
    """Bin-bucketed interval join: exact containment pairs, and the plan
    must be a hash equi-join — never BroadcastNestedLoop/Cartesian."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.operators import windows as W

    t = lambda m, s=0: dt.datetime(2026, 1, 1, 0, m, s)
    pts = spark.createDataFrame(
        [(1, 7, t(1)), (2, 7, t(9)), (3, 7, t(11)), (4, 8, t(9)),
         (5, 7, t(10))],  # boundary: end-inclusive
        "pid long, user_id long, ts timestamp")
    iv = spark.createDataFrame(
        [(100, 7, t(0), t(10)), (200, 8, t(8), t(12))],
        "iid long, user_id long, s timestamp, e timestamp")
    out = W.range_join(pts, iv, point_ts="ts", start_col="s", end_col="e",
                       by=["user_id"], bin_seconds=300)
    pairs = {(r.iid, r.pid) for r in out.collect()}
    assert pairs == {(100, 1), (100, 2), (100, 5), (200, 4)}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one candidate pair per (point, interval): no dedup stage needed,
    # so the count must equal the distinct count
    assert out.count() == out.distinct().count()


def test_rolling_time_agg_vs_fold(spark):
    """RANGE frame semantics: equal timestamps see each other; rows
    outside [ts-window, ts] fall out of the frame."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.operators import windows as W

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(1, 7, t(0), 1.0), (2, 7, t(5), 2.0), (3, 7, t(5), 4.0),
         (4, 7, t(20), 8.0)],
        "event_id long, user_id long, ts timestamp, value double")
    out = {r.event_id: (r.trailing_sum, r.trailing_cnt)
           for r in W.rolling_time_agg(df, "ts", "user_id", "value",
                                       window_seconds=10).collect()}
    assert out[1] == (1.0, 1)
    assert out[2] == (7.0, 3)   # both t=5 rows in each other's frame
    assert out[3] == (7.0, 3)
    assert out[4] == (8.0, 1)   # t=0..5 aged out of [10, 20]


def test_rolling_time_agg_single_window_pass(spark):
    """Both trailing aggregates must share ONE Window node over ONE Sort
    — a second sort pass at 100 TB is a real regression."""
    import datetime as dt

    from real_time_iot_data_pipeline_project_spark.operators import windows as W

    df = spark.createDataFrame(
        [(1, 7, dt.datetime(2026, 1, 1), 1.0)],
        "event_id long, user_id long, ts timestamp, value double")
    plan = (W.rolling_time_agg(df, "ts", "user_id", "value", 3600)
            ._jdf.queryExecution().executedPlan().toString())
    assert sum(1 for l in plan.splitlines()
               if l.strip().lstrip("+-* ").startswith("Window")) == 1
    assert sum(1 for l in plan.splitlines()
               if l.strip().lstrip("+-* ").startswith("Sort")) == 1


def test_weighted_sample_deterministic_and_partition_invariant(spark):
    """Same (salt, keys, weights) -> identical sample regardless of
    physical partitioning; different salt -> different sample."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.operators import sampling

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w"))
    a = sampling.weighted_sample_tickets(df, "k", "w", k=100, salt="s1")
    b = sampling.weighted_sample_tickets(
        df.repartition(17), "k", "w", k=100, salt="s1")
    c = sampling.weighted_sample_tickets(df, "k", "w", k=100, salt="s2")
    sa = {r["k"] for r in a.collect()}
    sb = {r["k"] for r in b.collect()}
    sc = {r["k"] for r in c.collect()}
    assert sa == sb and len(sa) == 100
    assert sa != sc


def test_weighted_sample_favors_heavy_keys(spark):
    """Statistical contract: across many salts, keys with weight 8 must
    be selected far more often than keys with weight 1 (ratio should
    approach 8x; assert a conservative 3x to stay flake-free)."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.operators import sampling

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 500, 1).otherwise(8).alias("w"))
    heavy = light = 0
    for salt in ("a", "b", "c", "d", "e"):
        picked = sampling.weighted_sample_tickets(
            df, "k", "w", k=200, salt=salt)
        ks = [r["k"] for r in picked.collect()]
        light += sum(1 for k in ks if k < 500)
        heavy += sum(1 for k in ks if k >= 500)
    assert heavy + light == 1000
    assert heavy > 3 * light, (heavy, light)


def test_weighted_sample_clamps_weights(spark):
    """Weights outside [1, max_weight] clamp instead of exploding the
    ticket fan-out (or crashing on w <= 0)."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.operators import sampling

    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, -5).otherwise(10**6).alias("w"))
    out = sampling.weighted_sample_tickets(
        df, "k", "w", k=10, salt="s", max_weight=4)
    rows = out.collect()
    assert len(rows) == 10
    assert {r["weight"] for r in rows} <= {1, 4}


def test_dq_audit_cli_gates_on_violations(spark, tmp_path, capsys):
    """The dq-audit CLI domain prints the tall report and exits
    non-zero iff any contract is violated — the publish-gate shape."""
    import pytest as _pytest

    from pyspark.sql import functions as F
    from real_time_iot_data_pipeline_project_spark import pipelines

    clean = str(tmp_path / "clean")
    spark.range(10).select(F.col("id"), F.lit("x").alias("s")).write.parquet(clean)
    pipelines.main(["dq-audit", clean])
    assert "all checks clean" in capsys.readouterr().out

    dirty = str(tmp_path / "dirty")
    spark.range(10).select(
        F.when(F.col("id") < 2, None).otherwise(F.col("id")).alias("id")
    ).write.parquet(dirty)
    with _pytest.raises(SystemExit, match="1 check"):
        pipelines.main(["dq-audit", dirty])


def test_salted_join_salt_varies_within_hot_key(spark):
    """Regression pin for the round-7 whale-demo finding: a salt that is
    a function of the join key alone re-converges every hot-key row on
    one reducer — zero mitigation. The salt must spread a single key's
    rows across (nearly) all salt buckets, be deterministic across
    runs, and leave the join result identical to the plain join."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.operators import analytics

    whale = spark.range(2000).select(
        F.lit(1).alias("k"), F.col("id").alias("v"))
    salts = whale.select(
        analytics.row_salt(whale, 8).alias("s")).distinct().collect()
    got = sorted(r["s"] for r in salts)
    assert got == list(range(8))  # one key, all 8 salt buckets hit

    # determinism: same expression, same rows -> same assignment
    a = whale.select("v", analytics.row_salt(whale, 8).alias("s")).collect()
    b = whale.select("v", analytics.row_salt(whale, 8).alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # result parity with the plain join on skewed input
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "rk long, p string")
    plain = whale.join(dim, F.col("k") == F.col("rk")).drop("rk")
    salted = analytics.salted_join(whale, dim, "k", "rk", salt=8).drop("rk")
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_plan_audit_cli(spark, capsys):
    """`pipelines plan-audit <query>` surfaces the engine's own
    physical-plan anti-pattern report (plans/inspect.py) and exits
    cleanly for a healthy plan."""
    from real_time_iot_data_pipeline_project_spark import pipelines

    pipelines.main(["plan-audit", "q04_star_join"])
    out = capsys.readouterr().out
    assert "plan-audit: no scale anti-patterns" in out
    assert "broadcast_join: True" in out

    import pytest as _pytest
    with _pytest.raises(SystemExit):
        pipelines.main(["plan-audit", "not_a_query"])


def test_salted_join_physical_salt_spreads_identical_rows(spark):
    """The round-8 ADVICE follow-through: a whale key whose rows are
    BYTE-IDENTICAL defeats the value-only row salt (all duplicates hash
    to one salt). physical_salt=True mixes spark_partition_id +
    monotonically_increasing_id into the hash so even identical rows
    spread — and the join RESULT must still equal the plain join."""
    from real_time_iot_data_pipeline_project_spark.operators import analytics

    # 400 literally identical rows of the hot key, pre-partitioned wide
    whale = spark.createDataFrame(
        [(1,)] * 400 + [(k,) for k in range(2, 10)], "k long"
    ).repartition(8)
    # value-only salt: identical rows collapse onto ONE salt value
    value_salts = whale.filter(F.col("k") == 1).select(
        analytics.row_salt(whale, 8).alias("s")).distinct().count()
    assert value_salts == 1
    # physical salt: the same rows spread over (nearly) all 8 salts
    phys_salts = whale.filter(F.col("k") == 1).select(
        analytics.row_salt(whale, 8, physical=True).alias("s")
    ).distinct().count()
    assert phys_salts >= 4

    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 10)],
                                "rk long, attr string")
    plain = sorted(map(tuple, whale.join(
        dim, whale["k"] == dim["rk"]).drop("rk").collect()))
    salted = sorted(map(tuple, analytics.salted_join(
        whale, dim, "k", "rk", salt=8, physical_salt=True)
        .drop("rk").collect()))
    assert salted == plain


def test_jsonl_round_trip_sharded_and_compressed(spark, tmp_path):
    """S16 JSONL export/read: sharded newline-delimited JSON must
    round-trip values and schema exactly, honor the shard count, and
    read back transparently when gzip-compressed."""
    import glob

    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.sources import io as sio

    df = spark.createDataFrame(
        [(i, f"text {i}", float(i) / 3.0) for i in range(100)],
        "doc_id long, text string, score double")
    out = str(tmp_path / "jsonl")
    sio.write_jsonl_shards(df, out, n_shards=4)
    parts = [p for p in glob.glob(f"{out}/part-*") if not p.endswith(".crc")]
    assert len(parts) == 4
    back = sio.read_jsonl(spark, out,
                          "doc_id long, text string, score double")
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())

    gz = str(tmp_path / "jsonl_gz")
    sio.write_jsonl_shards(df, gz, n_shards=2, compression="gzip")
    gparts = [p for p in glob.glob(f"{gz}/part-*") if p.endswith(".gz")]
    assert len(gparts) == 2
    back_gz = sio.read_jsonl(spark, gz,
                             "doc_id long, text string, score double")
    assert sorted(back_gz.collect()) == sorted(df.collect())
    # and one line per row, valid JSON (spot-check a raw part)
    import gzip as _gzip
    import json as _json
    with _gzip.open(gparts[0], "rt") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    assert all(_json.loads(ln)["text"].startswith("text ")
               for ln in lines)


def test_partition_backfill_touches_only_incoming_partitions(spark, tmp_path):
    """S17 dynamic partition overwrite: backfilling one date must
    replace that partition wholly, leave the others row-identical, and
    be idempotent on re-run."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.sources import io as sio

    base = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02",
                                    "2024-01-03") for i in range(10)],
        "day string, id int, v double")
    out = str(tmp_path / "data")
    sio.overwrite_partitions(base, out, ["day"])
    assert spark.read.parquet(out).count() == 30

    # corrected recompute of ONE day: fewer rows, new values
    fix = spark.createDataFrame(
        [("2024-01-02", i, float(i) * 10) for i in range(7)],
        "day string, id int, v double")
    sio.overwrite_partitions(fix, out, ["day"])
    got = spark.read.parquet(out)
    assert got.count() == 27
    d2 = {(r["id"], r["v"]) for r in
          got.where(F.col("day") == "2024-01-02").collect()}
    assert d2 == {(i, float(i) * 10) for i in range(7)}
    # partition values read back type-inferred (string day -> DATE):
    # compare on the string form
    untouched = {(str(r["day"]), r["id"], r["v"]) for r in
                 got.where(F.col("day") != "2024-01-02").collect()}
    assert untouched == {(d, i, float(i))
                         for d in ("2024-01-01", "2024-01-03")
                         for i in range(10)}

    # idempotent: the same backfill again changes nothing
    sio.overwrite_partitions(fix, out, ["day"])
    again = {(str(r["day"]), r["id"], r["v"])
             for r in spark.read.parquet(out).collect()}
    assert again == {("2024-01-02", i, float(i) * 10) for i in range(7)} \
        | untouched

    import pytest as _pytest
    with _pytest.raises(ValueError, match="partition columns"):
        sio.overwrite_partitions(base, out, [])


def test_orc_round_trip_values_pushdown_and_partitioning(spark, tmp_path):
    """S18: ORC write/read round-trips values and schema exactly (incl.
    decimals/dates/timestamps from the TPC-H tables), the partitioned
    write prunes on read, and a filter reaches the ORC scan as a pushed
    predicate."""
    from real_time_iot_data_pipeline_project_spark.sources import io as sio
    from tests.conftest import SF_SMOKE

    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    p = str(tmp_path / "li_orc")
    sio.write_orc(df, p)
    back = sio.read_orc(spark, p)
    assert back.schema == df.schema
    a = sorted(map(str, df.collect()))
    b = sorted(map(str, back.collect()))
    assert a == b

    # partitioned write + pruned read
    p2 = str(tmp_path / "li_orc_part")
    sio.write_orc(df, p2, partition_by=["l_returnflag"])
    one = sio.read_orc(spark, p2).filter(F.col("l_returnflag") == "A")
    assert one.count() == df.filter(F.col("l_returnflag") == "A").count()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split(
        "PartitionFilters")[1][:120]

    # schema-pinned read branch (StructType AND DDL string both accepted)
    pinned = sio.read_orc(spark, p, schema=df.schema)
    assert pinned.schema == df.schema and pinned.count() == df.count()
    ddl = sio.read_orc(spark, p, schema=df.schema.simpleString()
                       .removeprefix("struct<").removesuffix(">")
                       .replace(":", " "))
    assert ddl.count() == df.count()

    # predicate pushdown reaches the ORC scan
    flt = sio.read_orc(spark, p).filter(F.col("l_quantity") > 30)
    fplan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in fplan and "l_quantity" in fplan.split(
        "PushedFilters")[1][:120]


# ---------------------------------------------------------------------------
# X43 — Z-order layout (operators/layout.py)
# ---------------------------------------------------------------------------

def test_zvalue_known_values(spark):
    """Hand-computed Morton values: x bits land at even positions, y
    bits at odd — zvalue(5, 3) = (1,0,1)→1+16 plus (1,1)→2+8 = 27."""
    from real_time_iot_data_pipeline_project_spark.operators import layout

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (5, 3), (65535, 65535)], ["x", "y"])
    got = {(r.x, r.y): r.z for r in df.select(
        "x", "y", layout.zvalue(F.col("x"), F.col("y")).alias("z")).collect()}
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(5, 3)] == 27
    assert got[(65535, 65535)] == (1 << 32) - 1


def test_zorder_validations(spark):
    from real_time_iot_data_pipeline_project_spark.operators import layout

    df = spark.createDataFrame([(1, 2)], ["x", "y"])
    with pytest.raises(ValueError, match="power of two"):
        layout.with_zorder(df, "x", "y", n_buckets=12)
    with pytest.raises(ValueError, match="bits"):
        layout.zvalue(F.col("x"), F.col("y"), bits=40)


def test_zorder_write_tightens_both_extents(spark, tmp_path):
    """The data-skipping claim, measured: after zorder_write each file
    covers a small rectangle of (x, y), so the mean per-file extent is
    a small fraction of the domain on BOTH columns — while an x-sorted
    layout is tight on x and covers ~the whole y domain per file (a
    predicate on y reads every file)."""
    from real_time_iot_data_pipeline_project_spark import registry
    from real_time_iot_data_pipeline_project_spark.operators import layout
    from tests.conftest import SF_SMOKE

    ev = registry._t(spark, SF_SMOKE, "events").select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(65536)).alias("x"),
        F.pmod(F.expr("unix_timestamp(ts) div 3600"),
               F.lit(65536)).alias("y"))
    dom = ev.agg(F.max("x") - F.min("x"), F.max("y") - F.min("y")).head()
    xdom, ydom = max(dom[0], 1), max(dom[1], 1)

    zdir, xdir = str(tmp_path / "zord"), str(tmp_path / "xsort")
    layout.zorder_write(ev, zdir, "x", "y", n_files=64)
    (ev.repartitionByRange(64, "x").sortWithinPartitions("x")
     .write.parquet(xdir))

    def mean_widths(path):
        rows = layout.file_extents(spark, path, ["x", "y"]).collect()
        assert sum(r.n_rows for r in rows) == ev.count()
        mx = sum((r.max_x - r.min_x) / xdom for r in rows) / len(rows)
        my = sum((r.max_y - r.min_y) / ydom for r in rows) / len(rows)
        return mx, my

    zx, zy = mean_widths(zdir)
    sx, sy = mean_widths(xdir)
    print("extents:", {"zx": zx, "zy": zy, "sx": sx, "sy": sy})
    # x-sorted: tight on x, blind on y — a y-predicate reads EVERY file
    assert sx < 0.2 and sy > 0.8
    # z-ordered: rectangles, not stripes — the worst single-column
    # point predicate reads a bounded fraction of files, instead of
    # one column reading everything
    assert max(zx, zy) < 0.5 * max(sx, sy)
    assert zy < 0.35 and zx < 0.5


def test_zorder_pruned_read_skips_files(spark, tmp_path):
    """q136's files-read economics, measured (VERDICT r10 item 3): for
    the 1/16 band predicate y IN [96, 111], the x-sorted layout must
    read EVERY file (its per-file y extents span the domain) while the
    z-ordered layout reads only the files whose rectangle intersects
    the band — and both layouts return identical rows through the
    predicate, so the skipping costs nothing. Also asserts q136's read
    path pushes the band filter into the parquet scan: file pruning
    comes from the same footer stats the pushed filter consults."""
    from real_time_iot_data_pipeline_project_spark import registry
    from real_time_iot_data_pipeline_project_spark.operators import layout
    from tests.conftest import SF_SMOKE

    ev = registry._t(spark, SF_SMOKE, "events").select(
        "event_id",
        F.pmod(F.col("user_id"), F.lit(256)).alias("x"),
        F.pmod(F.expr("unix_timestamp(ts) div 3600"),
               F.lit(256)).alias("y"))
    zdir, xdir = str(tmp_path / "zord"), str(tmp_path / "xsort")
    layout.zorder_write(ev, zdir, "x", "y", bits=8, n_files=16)
    (ev.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.parquet(xdir))

    def band_files(path):
        rows = layout.file_extents(spark, path, ["y"]).collect()
        return (sum(1 for r in rows if r.min_y <= 111 and r.max_y >= 96),
                len(rows))

    zhit, zn = band_files(zdir)
    xhit, xn = band_files(xdir)
    print("band files:", {"z": (zhit, zn), "x": (xhit, xn)})
    assert xhit == xn  # x-sorted layout: blind on y, reads everything
    assert zhit <= zn // 2  # z layout: the band lives in few rectangles

    def band_rows(path):
        return sorted(map(tuple, spark.read.parquet(path)
                          .where(F.col("y").between(96, 111))
                          .select("event_id", "x", "y").collect()))

    z_rows = band_rows(zdir)
    assert z_rows == band_rows(xdir) and len(z_rows) > 0

    q = registry.QUERIES["q136_zorder_pruned_read"](spark, SF_SMOKE)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(y,96" in pushed
    assert "LessThanOrEqual(y,111" in pushed


def test_zvalue_n_three_dims(spark):
    """3-D Morton: bit b of column i lands at 3b + i — zvalue_n([1,1,1])
    = 0b111 = 7; [2,0,0] = bit1 of x at pos 3 = 8; and the 2-D form is
    zvalue_n at n=2 (same values as the named zvalue)."""
    from real_time_iot_data_pipeline_project_spark.operators import layout

    df = spark.createDataFrame(
        [(1, 1, 1), (2, 0, 0), (0, 2, 0), (0, 0, 2), (3, 5, 7)],
        ["x", "y", "w"])
    cols = [F.col("x"), F.col("y"), F.col("w")]
    got = {(r.x, r.y, r.w): r.z for r in df.select(
        "x", "y", "w", layout.zvalue_n(cols, bits=10).alias("z")).collect()}
    assert got[(1, 1, 1)] == 7
    assert got[(2, 0, 0)] == 8
    assert got[(0, 2, 0)] == 16
    assert got[(0, 0, 2)] == 32

    def py_z(x, y, w):
        z = 0
        for b in range(10):
            z += (((x >> b) & 1) << (3 * b)) \
               + (((y >> b) & 1) << (3 * b + 1)) \
               + (((w >> b) & 1) << (3 * b + 2))
        return z
    assert got[(3, 5, 7)] == py_z(3, 5, 7)

    two = df.select(layout.zvalue_n([F.col("x"), F.col("y")]).alias("a"),
                    layout.zvalue(F.col("x"), F.col("y")).alias("b"))
    assert all(r.a == r.b for r in two.collect())
    with pytest.raises(ValueError, match="key columns"):
        layout.zvalue_n([F.col("x")])
    with pytest.raises(ValueError, match="62"):
        layout.zvalue_n(cols, bits=21)
