"""Seeded telemetry generator owned by the benchmark.

Pure Python + numpy, no import from the package under test, so a change
to the program cannot change the benchmark's inputs. Emits the raw solar
and wind shapes of FIXTURES.md sections 1-2 as Kafka-value JSON lines and
as CSV logs, and a manifest of what a correct pipeline must produce from
them (clean row counts and energy/power aggregates per station).

Dirty-data mix, applied to the unique readings before serialising:

- rows in event-time order, 5 s apart per station, stations round-robin;
- ~2 % exact duplicate lines, each placed 1-60 lines after its original
  (at most 100 s of event time later: inside the 10-minute watermark);
- ~0.5 % lines moved 2-30 lines later (out of order, inside the watermark);
- ~1 % unparseable or null timestamps, ~3 % out-of-range measures,
  ~0.5 % nulls in a range-checked column (dropped), ~2 % nulls in
  null-filled columns (kept);
- ~10 % of wind timestamps end in a literal ``UTC``.

The manifest is computed from the unique readings with numpy, so it is an
oracle independent of Spark: the pipeline must keep exactly the valid
readings, once each, and drop nothing by watermark.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

SOLAR_STATIONS = ("BSPP", "KOSPP", "ZFSPP")
SOLAR_PANELS = np.array([4_125_000, 500_000, 62_500], dtype=np.float64)
WIND_STATIONS = ("WBWF", "GZWF", "ZFWF")
WIND_TURBINES = np.array([96, 290, 50], dtype=np.float64)

SOLAR_COLUMNS = (
    "timestamp", "station_id", "data_source", "temperature_C",
    "panel_temperature_C", "solar_irradiance_Wm2", "effective_efficiency",
    "power_kW", "energy_kWh_10min",
)
WIND_COLUMNS = (
    "timestamp", "station_id", "data_source", "wind_speed_mps", "wind_dir_deg",
    "air_temperature_C", "air_pressure_hPa", "humidity_percent",
    "air_density_kgm3", "wind_speed_hub_mps", "turbine_power_kW",
    "farm_power_kW", "farm_energy_kWh_10min", "farm_energy_MWh_10min",
)
# The pipeline's range filter (inclusive bounds; null in a bounded column
# drops the row) and the columns the dashboard's energy/power panels use.
SOLAR_BOUNDS = {"power_kW": (0.0, 2e7), "solar_irradiance_Wm2": (0.0, 1500.0),
                "effective_efficiency": (0.0, 0.25)}
WIND_BOUNDS = {"wind_speed_mps": (0.0, 60.0), "air_temperature_C": (-50.0, 60.0),
               "farm_power_kW": (0.0, 2e7)}
POWER_ENERGY = {"solar": ("power_kW", "energy_kWh_10min"),
                "wind": ("farm_power_kW", "farm_energy_kWh_10min")}

STEP_US = 5_000_000
EPOCH = np.datetime64("2025-01-01T00:00:00", "us")


@dataclass
class Domain:
    """One domain's generated lines (in arrival order) and its manifest.
    Only the lines of the requested format are filled in."""

    name: str
    manifest: dict
    json_lines: list[str] = field(default_factory=list)
    csv_header: str = ""
    csv_lines: list[str] = field(default_factory=list)


def _round3(x: np.ndarray) -> np.ndarray:
    return np.round(x, 3)


def _solar(n: int, rng: np.random.Generator, t0: np.datetime64):
    k = np.arange(n)
    st = k % 3
    ts = t0 + (k // 3) * STEP_US + rng.integers(0, 1_000_000, n)
    local_hour = ((ts.astype("datetime64[h]").astype(np.int64) + 2) % 24)
    day = (local_hour >= 6) & (local_hour < 18)
    temp = _round3(rng.normal(28.0, 5.0, n))
    panel = _round3(temp + rng.uniform(3.0, 8.0, n))
    clouds = rng.uniform(0.0, 80.0, n)
    irr = _round3(np.where(day, np.maximum(50.0, 1000.0 * (1 - clouds / 100)), 0.0))
    eff = _round3(np.where(day, np.maximum(0.05, 0.18 * (1 - 0.0045 * (panel - 25))), 0.0))
    power = _round3(irr * 1.7 * eff * 0.85 * SOLAR_PANELS[st] / 1000.0)
    energy = _round3(power * 10.0 / 60.0)
    cols = {"temperature_C": temp, "panel_temperature_C": panel,
            "solar_irradiance_Wm2": irr, "effective_efficiency": eff,
            "power_kW": power, "energy_kWh_10min": energy}
    # ~3 % out of range, one bounded column each
    bad = rng.random(n) < 0.03
    which = rng.integers(0, 3, n)
    irr[bad & (which == 0)] = _round3(rng.uniform(1600.0, 2000.0, n))[bad & (which == 0)]
    eff[bad & (which == 1)] = 0.3
    power[bad & (which == 2)] = -12.5
    nulls = {"temperature_C": rng.random(n) < 0.02,   # filled with 25
             "power_kW": rng.random(n) < 0.005}       # dropped
    api = rng.random(n) < 0.10
    stamps = np.char.add(np.datetime_as_string(ts, unit="us").astype("U32"), "+00:00")
    return st, stamps, api, cols, nulls


def _wind(n: int, rng: np.random.Generator, t0: np.datetime64):
    k = np.arange(n)
    st = k % 3
    ts = t0 + (k // 3) * STEP_US
    speed = _round3(rng.uniform(0.0, 15.0, n))
    wdir = rng.integers(0, 360, n).astype(np.float64)
    wdir_frac = rng.random(n) < 0.5
    wdir[wdir_frac] = _round3(wdir[wdir_frac] + rng.random(n)[wdir_frac])
    atemp = _round3(rng.normal(25.0, 5.0, n))
    press = _round3(rng.normal(1013.0, 3.0, n))
    hum = _round3(rng.uniform(20.0, 90.0, n))
    dens = _round3(press * 100 / (287.05 * (atemp + 273.15)))
    hub = _round3(speed * 10.0 ** 0.14)
    curve = np.minimum(2500.0, 2500.0 * np.clip((hub - 3.0) / 9.0, 0, None) ** 3)
    turbine = _round3(np.where((hub < 3.0) | (hub > 25.0), 0.0, curve))
    farm = _round3(turbine * WIND_TURBINES[st])
    kwh = _round3(farm * 10.0 / 60.0)
    mwh = np.round(kwh / 1000.0, 6)
    cols = {"wind_speed_mps": speed, "wind_dir_deg": wdir, "air_temperature_C": atemp,
            "air_pressure_hPa": press, "humidity_percent": hum,
            "air_density_kgm3": dens, "wind_speed_hub_mps": hub,
            "turbine_power_kW": turbine, "farm_power_kW": farm,
            "farm_energy_kWh_10min": kwh, "farm_energy_MWh_10min": mwh}
    bad = rng.random(n) < 0.03
    which = rng.integers(0, 3, n)
    speed[bad & (which == 0)] = _round3(rng.uniform(65.0, 80.0, n))[bad & (which == 0)]
    atemp[bad & (which == 1)] = np.where(rng.random(n) < 0.5, -60.0, 70.0)[bad & (which == 1)]
    farm[bad & (which == 2)] = np.where(rng.random(n) < 0.5, -5.0, 3e7)[bad & (which == 2)]
    nulls = {"air_pressure_hPa": rng.random(n) < 0.02,    # filled with 1013.25
             "humidity_percent": rng.random(n) < 0.02,    # filled with 50
             "wind_speed_mps": rng.random(n) < 0.005}     # dropped
    api = rng.random(n) < 0.04
    stamps = np.datetime_as_string(ts, unit="s").astype("U32")
    utc = rng.random(n) < 0.10
    suffix = np.where(rng.random(n) < 0.5, " UTC", "UTC")
    stamps[utc] = np.char.add(stamps[utc], suffix[utc])
    return st, stamps, api, cols, nulls


def _fmt(values: np.ndarray, null: np.ndarray, null_text: str, int_like: bool = False) -> list[str]:
    # repr is the shortest text that parses back to the same double
    if int_like:
        out = [("%d" % v if v == int(v) else repr(v)) for v in values.tolist()]
    else:
        out = [repr(v) for v in values.tolist()]
    for i in np.flatnonzero(null).tolist():
        out[i] = null_text
    return out


def generate(domain: str, n: int, seed: int, fmt: str) -> Domain:
    """``n`` unique readings of ``domain`` ('solar' or 'wind') from ``seed``,
    serialised as ``fmt`` ('json' lines or 'csv') with duplicates and
    disorder, plus the expected results."""
    rng = np.random.default_rng([seed, 0 if domain == "solar" else 1])
    t0 = EPOCH + np.timedelta64(int(rng.integers(0, 300 * 86400)), "s")
    if domain == "solar":
        st, stamps, api, cols, nulls = _solar(n, rng, t0)
        stations, names, bounds = SOLAR_STATIONS, SOLAR_COLUMNS, SOLAR_BOUNDS
    else:
        st, stamps, api, cols, nulls = _wind(n, rng, t0)
        stations, names, bounds = WIND_STATIONS, WIND_COLUMNS, WIND_BOUNDS

    # ~1 % timestamps that must coerce to null
    bad_ts = rng.random(n) < 0.01
    ts_null = bad_ts & (rng.random(n) < 0.3)
    bad_text = np.where(rng.random(n) < 0.5, "not-a-timestamp", "N/A")
    stamps = stamps.astype(object)
    stamps[bad_ts] = bad_text[bad_ts]

    valid = ~bad_ts
    for col, (lo, hi) in bounds.items():
        valid &= ~nulls.get(col, np.zeros(n, bool)) & (cols[col] >= lo) & (cols[col] <= hi)

    # arrival order: duplicates 1-60 lines after their original, a few
    # lines moved 2-30 lines later; both far inside the watermark.
    dup_src = np.flatnonzero(rng.random(n) < 0.02)
    pos = np.arange(n, dtype=np.float64)
    late = rng.random(n) < 0.005
    pos[late] += rng.integers(2, 31, n)[late] + 0.25
    dup_pos = dup_src + rng.integers(1, 61, dup_src.size) + 0.5
    rows = np.concatenate([np.arange(n), dup_src])
    order = rows[np.argsort(np.concatenate([pos, dup_pos]), kind="stable")]

    sid = np.array(stations, dtype=object)[st]
    src = np.where(api, "API", "PREDICTION").astype(object)
    text = {"timestamp": stamps, "station_id": sid, "data_source": src}
    null_text = "null" if fmt == "json" else ""
    fields = []
    for name in names:
        if name in text:
            quote = '"%s"' if fmt == "json" else "%s"
            col = [quote % s for s in text[name].tolist()]
            for i in np.flatnonzero(ts_null if name == "timestamp" else []).tolist():
                col[i] = null_text
        else:
            col = _fmt(cols[name], nulls.get(name, np.zeros(n, bool)), null_text,
                       int_like=name == "wind_dir_deg")
        fields.append(col)
    if fmt == "json":
        tmpl = "{" + ", ".join('"%s": %%s' % c for c in names) + "}"
        rows = [tmpl % t for t in zip(*fields)]
    else:
        rows = [",".join(t) for t in zip(*fields)]
    order_l = order.tolist()

    power, energy = POWER_ENERGY[domain]
    p_val, e_val = cols[power], cols[energy]
    per_station = {}
    for i, s in enumerate(stations):
        m = valid & (st == i)
        per_station[s] = {"rows": int(m.sum()), "energy_sum": math.fsum(e_val[m].tolist())}
    pv, ev = p_val[valid], e_val[valid]
    manifest = {
        "domain": domain,
        "unique_readings": n,
        "lines": len(order_l),
        "duplicates": int(dup_src.size),
        "out_of_order": int(late.sum()),
        "bad_timestamps": int(bad_ts.sum()),
        "clean_rows": int(valid.sum()),
        "per_station": per_station,
        "global": {f"{power}_sum": math.fsum(pv.tolist()), f"{power}_avg": float(pv.mean()),
                   f"{power}_max": float(pv.max()),
                   f"{energy}_sum": math.fsum(ev.tolist()), f"{energy}_avg": float(ev.mean()),
                   f"{energy}_max": float(ev.max())},
        "rows_dropped_by_watermark": 0,
    }
    lines = [rows[i] for i in order_l]
    if fmt == "json":
        return Domain(domain, manifest, json_lines=lines)
    return Domain(domain, manifest, csv_header=",".join(names), csv_lines=lines)


def chunks(lines: list[str], size: int) -> list[str]:
    """Split lines into newline-terminated file bodies of ``size`` lines;
    the last body may be shorter."""
    return ["\n".join(lines[i:i + size]) + "\n" for i in range(0, len(lines), size)]
