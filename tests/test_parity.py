"""Oracle-parity tests: every query in the registry must match its
DuckDB twin under the driver's strict cell canon (the driver's exact
gate at sf=0.01)."""

from __future__ import annotations

import pytest

from pe_firm_investment_database_pipeline_spark.plans import all_queries
from tools.driver_sim import check, oracle_conn

_QUERIES = all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("op_id", sorted(_QUERIES))
def test_oracle_parity(spark, sf_dir, con, op_id):
    spec = _QUERIES[op_id]
    check(op_id, spec.fn(spark, sf_dir).toPandas(), con.sql(spec.oracle).df())


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "revenue" in df.columns
