"""bench.py keeps every entry's failure and carries on: one raising
entry costs its own timing, never the record of the others."""

from __future__ import annotations

from types import SimpleNamespace

import bench
from __spark_entry__ import SF0001


def _registry(spark):
    def ok(spark_, sf_dir):
        return spark_.range(3)

    def boom(spark_, sf_dir):
        raise ValueError("forced failure")

    return {
        "ok_a": SimpleNamespace(fn=ok),
        "boom": SimpleNamespace(fn=boom),
        "ok_b": SimpleNamespace(fn=ok),
    }


def test_sweep_records_a_raising_entry_and_times_the_rest(spark):
    reg = _registry(spark)
    timings, cold, errors = bench._sweep(
        spark, reg, ["ok_a", "boom", "ok_b"], SF0001, {}
    )
    assert set(timings) == set(cold) == {"ok_a", "ok_b"}
    assert set(errors) == {"boom"}
    assert "ValueError: forced failure" in errors["boom"]


def test_warm_up_records_errors_instead_of_swallowing_them(spark):
    reg = _registry(spark)
    errors = bench._warm_up(spark, reg, ["ok_a", "boom", "ok_b"], SF0001)
    assert errors == {"boom": "ValueError: forced failure"}
