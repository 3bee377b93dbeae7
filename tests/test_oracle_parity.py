"""Driver-gate replica: every registry query hash-matches its DuckDB
oracle at sf0.001 (the fast smoke SF; tools/verify_oracles.py runs the
same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from real_time_iot_data_pipeline_project_spark import registry
from tests.conftest import SF_SMOKE

from tools.verify_oracles import compare


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_oracle_parity(spark, duck, name):
    problems = compare(spark, duck, name, registry.QUERIES[name],
                       registry.ORACLES[name], SF_SMOKE)
    assert not problems, problems


def test_no_oracle_queries_run(spark):
    for name in set(registry.QUERIES) - set(registry.ORACLES):
        df = registry.QUERIES[name](spark, SF_SMOKE)
        assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())
