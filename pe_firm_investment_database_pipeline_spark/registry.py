"""Query registry — the single inventory behind ``__spark_entry__``.

Each plan module exposes ``QUERIES: dict[str, QuerySpec]``; this module
merges them (detecting Op-ID collisions) so that
``__spark_entry__.queries()`` / ``oracle_sql()`` stay one-line
aggregations. Op-IDs follow repo:SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """A named query: the PySpark plan plus its ANSI-SQL twin that
    DuckDB runs on the same parquet tables. Every entry has one: the
    driver compares the two results under its strict cell canon
    (repo:tools/driver_sim.py)."""

    fn: QueryFn
    oracle: str
    tags: tuple[str, ...] = field(default=())


def merge(*module_queries: dict[str, QuerySpec]) -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for qs in module_queries:
        for op_id, spec in qs.items():
            if op_id in out:
                raise ValueError(f"duplicate Op-ID {op_id!r} across plan modules")
            out[op_id] = spec
    return out
