"""Tests of the benchmark's own logic: sampling, percentiles, the layer
rollup, and that a failing op still yields a complete record.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time

import pytest

from metrics import TAIL_BEYOND, end_to_end, rollup, tail, union_within
from workloads import (
    RESULT_FRONT_OWNERS, WORKLOADS, pass_order, pool, timed_passes, workload_entries,
)


@pytest.fixture(scope="module")
def names():
    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    return list(all_queries())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_fixes_order(names, workload):
    ops = workload_entries(WORKLOADS[workload], names)
    assert len(ops) == len(set(ops)) >= 2
    assert pass_order(ops, 7, 0) == pass_order(ops, 7, 0)
    assert sorted(pass_order(ops, 7, 0)) == sorted(ops)
    # another seed permutes differently; another pass of the same seed too
    assert pass_order(ops, 8, 0) != pass_order(ops, 7, 0)
    assert pass_order(ops, 7, 1) != pass_order(ops, 7, 0)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_pass_count_follows_seconds_only(workload):
    w = WORKLOADS[workload]
    assert timed_passes(w, 3 * w.pass_s) == 3
    assert timed_passes(w, 3.4 * w.pass_s) == 3
    assert timed_passes(w, 0.1) == 1


def test_panels_respect_exclusions(names):
    inter = workload_entries(WORKLOADS["interactive_sf0.1"], names)
    ingest = workload_entries(WORKLOADS["ingest_sf0.1"], names)
    assert all(n.startswith(("stream_", "snk_")) for n in ingest)
    assert not any(n.startswith(("stream_", "snk_", "seed_")) for n in inter)
    assert not set(inter) & set(RESULT_FRONT_OWNERS)
    assert set(inter) <= set(pool(WORKLOADS["interactive_sf0.1"], names))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_missing_panel_entry_is_refused(names, workload):
    w = WORKLOADS[workload]
    with pytest.raises(KeyError, match=w.panel[0]):
        workload_entries(w, [n for n in names if n != w.panel[0]])


@pytest.mark.parametrize("n", [20, 21, 30, 57, 200])
def test_tail_has_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct, met = tail(values)
    assert met
    assert sum(v > value for v in values) == TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - TAIL_BEYOND) / n)
    # one more sample beyond the next-higher rank would be too few
    assert sum(v > value + 1 for v in values) == TAIL_BEYOND - 1


@pytest.mark.parametrize("n", [1, 5, 11, 19])
def test_tail_falls_back_to_median_below_twenty(n):
    values = [float(i) for i in range(n)]
    value, pct, met = tail(values)
    assert not met and pct == 50.0
    assert value == pytest.approx(sorted(values)[(n - 1) // 2] if n % 2 else (n - 1) / 2)


def test_e2e_metrics_are_medians():
    ops = [
        {"op": "a", "pass": 0, "wall_s": 1.0},
        {"op": "b", "pass": 0, "wall_s": 10.0},
        {"op": "c", "pass": 0, "wall_s": 0.5},
        {"op": "a", "pass": 1, "wall_s": 3.0},
        {"op": "c", "pass": 1, "wall_s": 0.5},
        {"op": "c", "pass": 2, "wall_s": 9.0, "error": "RuntimeError: x"},
        {"op": "a", "pass": 2, "wall_s": 2.5},
    ]
    # per-pass rates 3/10, 2/4 and 1/1 ops per second
    e2e = end_to_end(ops, [(0.0, 10.0), (10.0, 14.0), (14.0, 15.0)])
    assert e2e["ops_per_s"] == pytest.approx(0.5)
    # entry medians a 2.5, b 10, c 0.5 (the raised call left out)
    assert e2e["op_p50_s"] == pytest.approx(2.5)
    assert e2e["op_samples"] == 6


def test_union_within_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (8.0, None), (-4.0, -1.0)]
    assert union_within(iv, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 2.0)
    assert union_within(iv, 2.5, 5.5) == pytest.approx(0.5 + 0.5)
    assert union_within([], 0.0, 1.0) == 0.0


@pytest.mark.parametrize(
    "jobs",
    [
        [],
        [(10.0, 10.2)],  # a job during the build only
        [(10.0, 10.2), (10.9, 11.4), (11.0, 11.3), (11.5, None)],
        [(10.95, 12.5)],  # starts during planning, outlives the action
    ],
)
def test_rollup_closes(jobs):
    spans = {"build": (10.0, 10.5), "planning": (10.5, 10.9), "action": (10.9, 11.6)}
    parts = rollup(spans, jobs)
    assert parts["wall_s"] == pytest.approx(1.6)
    total = parts["build_s"] + parts["planning_s"] + parts["job_active_s"] + parts["unattributed_s"]
    assert total == pytest.approx(parts["wall_s"])
    assert parts["unattributed_s"] >= -1e-12
    assert parts["job_active_s"] <= spans["action"][1] - spans["action"][0] + 1e-12


def test_rollup_without_planning_span():
    parts = rollup({"build": (0.0, 1.0), "action": (1.0, 3.0)}, [(1.5, 2.0)])
    assert parts["planning_s"] == 0.0
    assert parts["job_active_s"] == pytest.approx(0.5)
    assert parts["unattributed_s"] == pytest.approx(1.5)


def test_canon_matches_driver_sim():
    pd = pytest.importorskip("pandas")
    driver_sim = pytest.importorskip("tools.driver_sim")
    from worker import canon

    df = pd.DataFrame({"b": [1, 2, None], "a": [0.5, float("nan"), 3.0], "c": ["x", None, "z"]})
    assert canon(df) == driver_sim.canon(df)


@pytest.fixture(scope="module")
def spark():
    from pe_firm_investment_database_pipeline_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_forced_raise_still_writes_complete_record(spark, tmp_path):
    """One op that always raises: the run carries on, the record is complete,
    the failure is counted with its error text, and the result line is
    printed with every metric."""
    import __spark_entry__
    from pe_firm_investment_database_pipeline_spark.plans import all_queries
    from pe_firm_investment_database_pipeline_spark.registry import QuerySpec
    from run import E2E_UNITS, PER_LAYER_UNITS, make_record, report
    from tracing import Tracer
    from worker import run_workload

    def boom(spark, sf_dir):
        raise RuntimeError("forced failure")

    registry = dict(all_queries())
    registry["forced_boom"] = QuerySpec(fn=boom, oracle="SELECT 1 AS x")
    entries = ["json_get", "forced_boom"]
    workload = WORKLOADS["interactive_sf0.1"]
    for trace in (0, 1):
        tracer = Tracer(spark) if trace else None
        if tracer:
            tracer.install()
        spawn = time.time()
        try:
            raw = run_workload(
                spark, registry, workload, entries, seed=1, seconds=0.5,
                sf_dir=__spark_entry__.SF0001, scratch=str(tmp_path),
                tracer=tracer,
            )
        finally:
            if tracer:
                tracer.uninstall()
        assert raw["panel"] == entries
        assert "forced failure" in raw["warmup_errors"]["forced_boom"]
        assert "forced failure" in raw["errors"]["forced_boom"]
        assert raw["correctness"]["json_get"]["ok"]
        assert not raw["correctness"]["forced_boom"]["ok"]
        assert {o["op"] for o in raw["ops"]} == set(entries)
        raw.update(session_start_s=1.0, shuffle_partitions="8", master="local[2]")
        context = {"sf_dir": __spark_entry__.SF0001, "cores": 2, "heap": "1g"}
        record = make_record(raw, workload, 1, 0.5, trace, spawn, (1.0, {"java": 1.0}), context)
        json.dumps(record)
        assert record["attempted"] == len(raw["ops"]) >= 2
        assert record["failed"] == sum(o["op"] == "forced_boom" for o in raw["ops"]) >= 1
        assert record["op_fail_ratio"] == record["failed"] / record["attempted"]
        lines = report(record)
        assert any(ln.startswith("  FAIL forced_boom: RuntimeError: forced failure") for ln in lines)
        assert any(ln.startswith("  op_fail_ratio = ") for ln in lines)
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert not result["correct"]
        assert result["failed"] == record["failed"]
        units = PER_LAYER_UNITS if trace else E2E_UNITS
        assert {k: v["unit"] for k, v in result["metrics"].items()} == units
