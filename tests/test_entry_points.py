"""Entry points A and C end to end, for both domains: a CSV append log in
the raw schema's column order goes through
``pipelines.consume_and_process`` to a ``station_id``-partitioned parquet
sink, and the sink feeds ``pipelines.dashboard_panels``.

Station ids and capacities are written out here from the reference
registries (``Solar_Generation.py:39-67``, ``Wind_Genration.py:50-54``),
not read from the package, so the test is an oracle for the registry too.

The pipeline's modules must also import without the LLM-curation tier:
``test_pipeline_modules_load_no_curation_tier`` pins that in a fresh
interpreter.
"""

from __future__ import annotations

import json
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

from real_time_iot_data_pipeline_project_spark import pipelines, schemas
from real_time_iot_data_pipeline_project_spark.sources import generator

STATIONS = {"solar": {"BSPP", "KOSPP", "ZFSPP"}, "wind": {"GZWF", "WBWF", "ZFWF"}}
SOLAR_CAPACITY_KW = {"BSPP": 1650.0 * 1000, "KOSPP": 200.0 * 1000, "ZFSPP": 25.0 * 1000}
BASE_PANELS = {"global_metrics", "station_energy", "energy_by_hour", "ranking",
               "value_dist", "pivot"}
PANELS = {"solar": BASE_PANELS,
          "wind": BASE_PANELS | {"speed_power_corr", "regression", "wind_class_counts"}}
RAW = {"solar": (generator.generate_solar_raw, schemas.SOLAR_RAW_SCHEMA, "energy_kWh_10min"),
       "wind": (generator.generate_wind_raw, schemas.WIND_RAW_SCHEMA, "farm_energy_kWh_10min")}


@pytest.fixture(scope="module", params=["solar", "wind"])
def processed(request, spark, tmp_path_factory):
    domain = request.param
    gen, raw_schema, _ = RAW[domain]
    root = tmp_path_factory.mktemp(f"entry_{domain}")
    log, out = str(root / "log"), root / "processed"
    # daylight, so solar power (and capacity utilization) is not all zero
    raw = gen(spark, n_rows=900, start="2025-11-04 09:00:00").select(*[f.name for f in raw_schema.fields])
    raw.coalesce(1).write.option("header", True).csv(log)
    result = pipelines.consume_and_process(spark, domain, log, str(out))
    return domain, result, out


def test_consume_and_process_writes_every_processed_row(spark, processed):
    domain, result, out = processed
    written = spark.read.parquet(str(out))
    assert {p.name for p in out.iterdir() if p.is_dir()} == {
        f"station_id={s}" for s in STATIONS[domain]}
    cols = result.columns
    assert sorted(written.columns) == sorted(cols)
    rows = written.select(*cols).collect()
    assert rows and Counter(map(tuple, rows)) == Counter(map(tuple, result.collect()))
    assert len({(r.station_id, r.timestamp) for r in rows}) == len(rows)
    if domain == "solar":
        assert {r.station_id for r in rows if r.power_kW > 0} == STATIONS["solar"]
        for r in rows:
            assert r.capacity_utilization_pct == r.power_kW / SOLAR_CAPACITY_KW[r.station_id] * 100.0


def test_dashboard_panels_over_the_sink(spark, processed):
    domain, _, out = processed
    energy = RAW[domain][2]
    written = spark.read.parquet(str(out))
    panels = pipelines.dashboard_panels(written, domain)
    assert set(panels) == PANELS[domain]

    ranking = panels["ranking"].collect()
    assert len(ranking) == len(STATIONS[domain])
    assert {r.station_id for r in ranking} == STATIONS[domain]
    order = [(r.total_energy, r.station_id) for r in ranking]
    assert order == sorted(order, key=lambda t: (-t[0], t[1]))

    expected: dict[str, float] = {}
    for r in written.select("station_id", energy).collect():
        expected[r.station_id] = expected.get(r.station_id, 0.0) + (r[energy] or 0.0)
    for r in ranking:
        assert r.total_energy == pytest.approx(expected[r.station_id], rel=1e-9)

    if domain == "wind":
        corr = panels["speed_power_corr"].head().corr
        assert 0.3 < corr <= 1.0
        classes = {r.wind_class for r in panels["wind_class_counts"].collect()}
        assert classes <= {"Calm", "Light", "Moderate", "Strong", "Storm"} and classes


PKG = "real_time_iot_data_pipeline_project_spark"
PIPELINE_MODULES = ["pipelines", "streaming.job", "streaming.upsert",
                    "streaming.scd2", "warehouse.star", "warehouse.incremental"]
CURATION_TIER = ["streaming.curation", "functions.textfns", "operators.dedup",
                 "operators.tokenize"]


def test_pipeline_modules_load_no_curation_tier():
    """Importing the pipeline (entry points A-C, upsert, SCD2, the star
    schema) in a fresh interpreter loads no module of the curation tier,
    so deleting that tier cannot break the pipeline."""
    code = (
        "import importlib, json, sys\n"
        f"for m in {PIPELINE_MODULES!r}:\n"
        f"    importlib.import_module({PKG!r} + '.' + m)\n"
        "print(json.dumps(sorted(sys.modules)))\n")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True,
                         cwd=Path(__file__).resolve().parents[1])
    loaded = set(json.loads(out.stdout.splitlines()[-1]))
    assert {f"{PKG}.{m}" for m in PIPELINE_MODULES} <= loaded
    assert sorted(loaded & {f"{PKG}.{m}" for m in CURATION_TIER}) == []
