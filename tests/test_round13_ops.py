"""Behavior pins for the round-13 optimization changes.

The r13 rewrites must not change what any entry computes — these pins
re-derive the changed operators' results from first principles (the
pre-rewrite formulations) and compare exactly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pe_firm_investment_database_pipeline_spark.functions.exact import cents
from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _cross_join_reference(spark, sf_dir):
    """The pre-r13 E x C formulation of join_score_argmax, verbatim:
    scored cross join + max(struct) argmax. The staircase
    decomposition must reproduce it bit-for-bit."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal", "s_name"
    )
    z = F.lit(0.0)
    score = F.round(
        F.when(F.col("c_nationkey") == F.col("s_nationkey"), F.lit(1.0)).otherwise(z)
        + F.when(cents("s_acctbal") > cents("c_acctbal"), F.lit(0.9)).otherwise(z)
        + F.when((F.col("s_suppkey") + F.col("c_custkey")) % 7 == 0, F.lit(0.6)).otherwise(z)
        + F.when(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"), F.lit(0.3)).otherwise(z),
        3,
    )
    scored = c.crossJoin(F.broadcast(s)).select(
        "c_custkey", "s_suppkey", score.alias("score")
    )
    best = scored.groupBy("c_custkey").agg(
        F.max(F.struct(F.col("score"), (-F.col("s_suppkey")).alias("neg"))).alias("b")
    )
    return best.select(
        "c_custkey",
        (-F.col("b.neg")).alias("best_suppkey"),
        F.col("b.score").alias("best_score"),
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_join_score_argmax_staircase_equals_cross_join(spark, sf_dir):
    """The r13 staircase argmax decomposition returns exactly the
    cross-join result — same keys, same winners, same score DOUBLES
    (the winner's score is recomputed with the original expression,
    so even the 0.9+0.6 float representation must agree). sf0.001
    exercises the empty-family edges: only a few nations have
    suppliers there, so customers from supplier-less nations resolve
    entirely through the ne-nation staircases."""
    from pe_firm_investment_database_pipeline_spark.plans.matching import (
        join_score_argmax,
    )

    got = {
        r["c_custkey"]: (r["best_suppkey"], r["best_score"])
        for r in join_score_argmax(spark, sf_dir).collect()
    }
    want = {
        r["c_custkey"]: (r["best_suppkey"], r["best_score"])
        for r in _cross_join_reference(spark, sf_dir).collect()
    }
    assert got == want and got


def test_join_score_argmax_plan_has_no_pair_materialization(spark):
    """The plan must never build the E x C pair relation: the entity
    side resolves through broadcast HASH joins (equi keys into the
    staircase grid), and no CartesianProduct appears anywhere. The
    only nested-loop joins are the two dimension-domain cross
    products (25 nations x 7 residues) on the SUPPLIER side."""
    from pe_firm_investment_database_pipeline_spark.plans.matching import (
        join_score_argmax,
    )

    df = join_score_argmax(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # four families + winner


def test_stream_input_staged_as_four_files(spark):
    """The shared streaming events feed must stage as exactly 4 files
    so the maxFilesPerTrigger=2 entries process a FIXED 2 micro-batch
    schedule (the r13 change: batch count is a fixture property, not
    an artifact of the scan's task count)."""
    from pe_firm_investment_database_pipeline_spark.streaming.windows import (
        _prepare_input,
    )

    path = _prepare_input(spark, "/root/testdata/sf0.001")
    n = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n == 4, f"expected 4 staged feed files, got {n}"


def test_evict_named_targets_one_cache(spark):
    """evict_named must drop only the named family's (matching)
    fronts: after sim_ann_join builds its result front, evicting
    "ann_result" clears it while the staged IVF index (sim_stage)
    keeps its fronts — the owner rebuilds, consumers stay warm."""
    from pe_firm_investment_database_pipeline_spark.functions import (
        session_cache as SC,
    )
    from pe_firm_investment_database_pipeline_spark.plans.similarity import (
        sim_ann_join,
    )

    def n_fronts(name):
        return sum(1 for k in SC._FRONTS if k[3] == name)

    sf = "/root/testdata/sf0.001"
    sim_ann_join(spark, sf).count()
    assert n_fronts("ann_result")
    n_stage = n_fronts("sim_stage")
    assert n_stage > 0
    n = SC.evict_named("ann_result")
    assert n >= 1
    assert not n_fronts("ann_result")
    assert n_fronts("sim_stage") == n_stage  # untouched
    # unknown names are a no-op, not an error
    assert SC.evict_named("no_such_cache") == 0
    # rebuild works and matches
    assert sim_ann_join(spark, sf).count() > 0


def test_vacuum_clone_preserves_pristine_source(spark):
    """snk_retention_vacuum vacuums a hard-link CLONE: after a run,
    the pristine landing still holds every day partition (so the next
    run's clone starts complete), while the vacuum target has the
    expired days physically removed."""
    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        app_dir,
        shared_copy,
    )
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        _RETAIN_DAYS,
        snk_retention_vacuum,
    )

    sf = "/root/testdata/sf0.001"
    row = snk_retention_vacuum(spark, sf).collect()[0]

    def days(root):
        return {d for d in os.listdir(root) if d.startswith("day=")}

    pristine = days(shared_copy(sf, "vacsrc", lambda p: pytest.fail("vacsrc not staged")))
    target = days(app_dir(spark, sf, "vacuum"))
    assert len(pristine) == row["days_before"]
    assert len(target) == row["days_after"]
    assert target < pristine  # expired days removed from the clone only
    assert row["days_vacuumed"] == len(pristine) - len(target)
    assert row["days_after"] <= _RETAIN_DAYS
