"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` expose the full operator inventory from
SURVEY.md §2 plus the training-data north-star ops (dedup /
multimodal / text), implemented in
``real_time_iot_data_pipeline_project_spark`` — see that package and
``real_time_iot_data_pipeline_project_spark/registry.py`` for the
query ↔ oracle pairs and the cross-engine determinism rules they follow.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_iot_data_pipeline_project_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full entry-point-A
    IoT pipeline shape (validate → range-filter → dedup → tz features →
    grouped rollup) over the events stream table."""
    return registry.QUERIES["q27_iot_pipeline"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (see each
    callable's docstring for the operator IDs it covers), in
    ``registry.export_order()``: the 50-query official window first
    (the external gate records rows for exactly that prefix), then the
    deferred redundant twins (registry.DEFERRED — every one mapped to
    an in-window survivor in tests/test_export_order.py SUBSUMPTION),
    the POST_WINDOW tail (scheduled for official rows by
    tools/coverage_ledger.py's rotation plan), and the bounded
    approx-sketch tier."""
    return {name: registry.QUERIES[name] for name in registry.export_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query — every query except the three
    approximate-sketch-tier entries (q58/q59/q101, which are verified
    locally under explicit error bounds instead of value hashes). Even
    the mapInPandas paths are value-checked: q36's md5-chain fake
    decoder is replicated with chained md5/substr hex arithmetic, and
    the real PNG/WAV decodes carry closed-form pixel/signal oracles."""
    return {
        name: registry.ORACLES[name]
        for name in registry.export_order()
        if name in registry.ORACLES
    }
