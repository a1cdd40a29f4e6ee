"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real inventory lives in
``pe_firm_investment_database_pipeline_spark/plans/*``; this module is
a thin aggregation layer over the package registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# self-locating: the engine package resolves no matter which cwd the
# driver imports this module from
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pe_firm_investment_database_pipeline_spark.plans import all_queries

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pe_firm_investment_database_pipeline_spark.plans.relational import (
        flagship_revenue_by_nation,
    )

    return flagship_revenue_by_nation(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {op_id: spec.fn for op_id, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each query."""
    return {op_id: spec.oracle for op_id, spec in all_queries().items()}
