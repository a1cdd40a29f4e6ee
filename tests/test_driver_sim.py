"""The one oracle comparator (``tools/driver_sim.check``) under the
driver's strict ``str()`` cell canon: no numeric tolerance, no int/float
coercion. Pandas-only, no Spark."""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
import pytest

from __spark_entry__ import SF0001
from pe_firm_investment_database_pipeline_spark.sources.tables import TABLES
from tools.driver_sim import check, oracle_conn


def _reject(got: pd.DataFrame, want: pd.DataFrame) -> str:
    with pytest.raises(AssertionError) as exc:
        check("op_x", got, want)
    return str(exc.value)


def test_int_vs_float_is_a_mismatch():
    got = pd.DataFrame({"n": pd.Series([123], dtype="int64")})
    want = pd.DataFrame({"n": pd.Series([123.0], dtype="float64")})
    msg = _reject(got, want)
    assert "values mismatch" in msg
    assert "'123'" in msg and "'123.0'" in msg


def test_floats_one_part_in_1e12_apart_are_a_mismatch():
    a = 0.1234567890123
    msg = _reject(pd.DataFrame({"x": [a]}), pd.DataFrame({"x": [a * (1 + 1e-12)]}))
    assert "values mismatch" in msg


def test_decimal_vs_float_is_a_mismatch():
    msg = _reject(
        pd.DataFrame({"x": [Decimal("1.50")]}), pd.DataFrame({"x": [1.5]})
    )
    assert "'1.50'" in msg and "'1.5'" in msg


def test_equal_frames_pass_in_any_row_and_column_order():
    got = pd.DataFrame(
        {"b": [1, 2, None], "a": [0.5, float("nan"), 3.0], "c": ["x", None, "z"]}
    )
    want = got.iloc[[2, 0, 1]][["c", "a", "b"]].reset_index(drop=True)
    check("op_x", got, want)


def test_error_text_names_the_op_and_a_differing_row():
    got = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    want = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "d"]})
    msg = _reject(got, want)
    assert msg.startswith("op_x: values mismatch")
    assert "spark-only: ['3|c']" in msg
    assert "oracle-only: ['3|d']" in msg


def test_row_count_and_duplicate_mismatches_are_reported():
    got = pd.DataFrame({"k": [1, 1, 2]})
    msg = _reject(got, pd.DataFrame({"k": [1, 2]}))
    assert msg.startswith("op_x: rows mismatch spark=3 oracle=2")
    assert "spark-only: ['1']" in msg


def test_schema_mismatch_lists_both_column_sets():
    msg = _reject(pd.DataFrame({"a": [1], "b": [2]}), pd.DataFrame({"a": [1]}))
    assert msg.startswith("op_x: schema mismatch")
    assert "['a', 'b']" in msg and "['a']" in msg


def test_oracle_conn_views_every_table_in_utc():
    con = oracle_conn(SF0001)
    try:
        views = {r[0] for r in con.sql("SELECT view_name FROM duckdb_views()").fetchall()}
        assert set(TABLES) <= views
        assert con.sql("SELECT current_setting('TimeZone')").fetchone()[0] == "UTC"
        assert con.sql("SELECT count(*) FROM region").fetchone()[0] == 5
    finally:
        con.close()
