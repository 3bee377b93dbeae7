"""Timestamp normalization & derivation (SURVEY.md §2.9 F1–F8).

The reference's timestamp chaos (SURVEY.md §7 watch-list): tz-aware solar
ISO strings, naive wind ISO strings, rows with a literal ``UTC`` suffix
(stripped by ``Wind_Processing.py:23`` / docx §wind ``regexp_replace``),
and unparseable strings that must coerce to null
(``Solar_Processing.py:20`` ``errors='coerce'``). One normalization
function handles all four shapes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .physics import ColumnOrName, _c

LOCAL_TZ = "Africa/Cairo"


def normalize_timestamp(ts: ColumnOrName) -> Column:
    """F1+F2 — strip a literal ``UTC`` suffix, trim, parse to timestamp;
    unparseable → null (same coerce semantics as pandas ``errors='coerce'``
    and Spark ``to_timestamp``).

    ``to_timestamp`` on a string column handles both ``2025-11-04T12:00:00``
    and ``2025-11-04 12:00:00.123456+00:00`` shapes; with the session
    timezone pinned to UTC (session.py) naive strings are interpreted as
    UTC, matching the producers' intent (both emit UTC instants,
    Solar_Generation.py:89, Wind_Genration.py:178).
    """
    cleaned = F.trim(F.regexp_replace(_c(ts).cast("string"), "UTC", ""))
    # try_to_timestamp: ANSI-safe coerce-to-null (Spark 4 default ANSI
    # mode makes plain to_timestamp THROW on malformed input). It parses
    # the 'T' separator itself (every known shape: tests/test_cleaning.py).
    return F.try_to_timestamp(cleaned)


def to_local(ts: ColumnOrName, tz: str = LOCAL_TZ) -> Column:
    """F3 — UTC instant → local wall-clock (docx ``from_utc_timestamp``)."""
    return F.from_utc_timestamp(_c(ts), tz)


def hour_of(ts: ColumnOrName) -> Column:
    """F4 (Solar_Processing.py:54, docx ``hour``)."""
    return F.hour(_c(ts))


def day_name(ts: ColumnOrName) -> Column:
    """F5 — full day name (``dt.day_name()`` / docx ``date_format 'EEEE'``)."""
    return F.date_format(_c(ts), "EEEE")


def time_of_day(hour: ColumnOrName) -> Column:
    """F8 — Day iff 6 ≤ hour < 18 (canonical bound per SURVEY.md §7: the
    solar-Spark notebook's ``h <= 18`` is a documented off-by-one we do
    NOT reproduce)."""
    h = _c(hour)
    return F.when((h >= 6) & (h < 18), "Day").otherwise("Night")


def time_index(start: str, periods: int, step_minutes: int = 15) -> Column:
    """F7 — synthesized timestamp sequence (``pd.date_range`` equivalent):
    ``sequence(start, start + (periods-1)·step, step)``; explode at call
    site."""
    start_ts = F.to_timestamp(F.lit(start))
    end_ts = start_ts + F.expr(f"INTERVAL {(periods - 1) * step_minutes} MINUTES")
    return F.sequence(start_ts, end_ts, F.expr(f"INTERVAL {step_minutes} MINUTES"))
