"""bench.py keeps every entry's failure and carries on: one raising
entry costs its own timing, never the record of the others. Its cold
calls are traced, and its records never land on a tracked root file."""

from __future__ import annotations

import fnmatch
import json
import os
import sys
from datetime import datetime, timezone
from types import SimpleNamespace

import pytest

import bench
from __spark_entry__ import SF0001

PACKAGE = "pe_firm_investment_database_pipeline_spark"


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
    timings, cold, layers, errors = bench._sweep(spark, reg, ["ok_a", "boom", "ok_b"], SF0001)
    assert set(timings) == set(cold) == {"ok_a", "ok_b"}
    assert set(errors) == {"boom"}
    assert "ValueError: forced failure" in errors["boom"]


def test_warm_up_records_errors_instead_of_swallowing_them(spark):
    reg = _registry(spark)
    errors = bench._warm_up(spark, reg, ["ok_a", "boom", "ok_b"], SF0001)
    assert errors == {"boom": "ValueError: forced failure"}


def test_cold_call_layers_count_the_entrys_spark_jobs(spark):
    timings, cold, layers, errors = bench._sweep(spark, _registry(spark), ["ok_a"], SF0001)
    assert errors == {}
    assert layers["ok_a"]["spark.jobs"] >= 1
    assert layers["ok_a"]["spark.tasks"] >= 1


def test_sweep_uninstalls_the_tracer_after_a_raising_entry(spark):
    from pe_firm_investment_database_pipeline_spark.functions import session_cache
    from pe_firm_investment_database_pipeline_spark.sources import tables

    memoize, load_table = session_cache.memoize, tables.load_table
    bench._sweep(spark, _registry(spark), ["boom", "ok_a"], SF0001)
    assert session_cache.memoize is memoize
    assert tables.load_table is load_table
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith(PACKAGE):
            continue
        for name, val in vars(mod).items():
            assert "Tracer" not in getattr(val, "__qualname__", ""), (
                f"{mod.__name__}.{name} is still a tracer wrapper"
            )


def test_record_lands_under_bench_records_and_never_on_a_root_bench_file(tmp_path, monkeypatch):
    class Frozen(datetime):
        @classmethod
        def now(cls, tz=None):
            return datetime(2026, 1, 1, tzinfo=timezone.utc)

    monkeypatch.setattr(bench, "datetime", Frozen)
    path = bench._write_record({"value": 1.0}, "c4_sf0.1", root=str(tmp_path))
    assert os.path.dirname(path) == os.path.join(str(tmp_path), "bench_records")
    assert not fnmatch.fnmatch(os.path.basename(path), "BENCH_*.json")
    assert not any(fnmatch.fnmatch(p, "BENCH_*.json") for p in os.listdir(tmp_path))
    with open(path) as f:
        assert json.load(f) == {"value": 1.0}
    with open(os.path.join(bench.REPO_ROOT, ".gitignore")) as f:
        assert bench.RECORDS_DIR + "/" in f.read().split()
    # a second record of the same second fails instead of overwriting
    with pytest.raises(FileExistsError):
        bench._write_record({"value": 2.0}, "c4_sf0.1", root=str(tmp_path))
    with open(path) as f:
        assert json.load(f) == {"value": 1.0}
