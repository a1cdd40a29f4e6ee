"""Registry-wide physical-plan audit: the 100 TB anti-pattern scan,
machine-checked over EVERY registry entry instead of spot-checked by
tests/test_plan_shapes.py.

For each queries() entry the tool builds the DataFrame at sf0.001
(cheap — some entries execute eager staging on construction),
captures `explain("formatted")`, and counts the node classes that are
forbidden or budgeted at cluster scale:

- ``CartesianProduct`` — a data-sized cartesian is a scale-killer.
  Allowed ONLY for entries in ``CARTESIAN_ALLOWED``, each of which is
  a BOUNDED grid by construction (documented next to the entry).
- ``BatchEvalPython`` — a row-at-a-time Python UDF in any plan is a
  bug (the package's Python boundary is Arrow-batched: pandas_udf /
  mapInPandas / mapInArrow / applyInPandas*).
- ``single_partition_windows`` — Window/WindowGroupLimit nodes with
  an EMPTY partition spec: the whole frame funnels through ONE task.
  A global top-1/argmax should be ``orderBy().limit(1)``
  (TakeOrderedAndProject) instead; a genuinely global running
  computation must be exempted in ``GLOBAL_WINDOW_ALLOWED`` with a
  written bounded-frame determination (vocab/grid/group-count sized
  input, never raw-data sized).

Every entry's counts land in PLAN_AUDIT.json so the audit is
diffable round over round; the process exits non-zero on any
violation. ``--dump DIR`` also writes each entry's formatted plan to
``DIR/<op>.txt`` (plan evidence for an optimization: dump once from a
checkout of the old commit and once from the new one, into two
directories). Entries whose constructor executes eager staging run
that staging here, so the captured plan is the plan the entry serves.

Usage (from the repo root):
    PYTHONPATH=. python tools/plan_audit.py [--out FILE] [--dump DIR] [op ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.001")

# Entries whose CartesianProduct is a BOUNDED grid by construction:
#   join_nested_loop     — the deliberate 5x5 region BNLJ/cartesian demo
#                          (plans/relational.py:447)
#   evt_peak_concurrency — weeks x in-week slot grid, both sides tiny
#                          fixed cardinality (plans/sessions.py:96)
CARTESIAN_ALLOWED = {"join_nested_loop", "evt_peak_concurrency"}

# No entry may plan a row-at-a-time Python UDF.
BATCH_EVAL_ALLOWED: set[str] = set()

# Entries whose single-partition Window runs over a frame that is
# BOUNDED by construction (vocab-, grid-, or group-count-sized — never
# raw-data-sized), with the determination written at the entry. A
# global running total over N groups is fine when N is the number of
# groups, not rows; a global top-1 over raw rows is NOT and must be
# rewritten as orderBy().limit(1). Every exemption names the bounded
# frame the window runs on (verified by reading the entry — each
# docstring carries the same determination).
GLOBAL_WINDOW_ALLOWED: dict[str, str] = {
    # day-/calendar-grid frames (events collapse to one row per day
    # or (day, slot) before the ordered window)
    "evt_pattern_vshape": "day-grid gaps-and-islands (3 windows on daily rollup + islands)",
    "evt_calendar_heatmap": "day-grid running stats",
    "evt_stickiness_dau_mau": "day-grid DAU/MAU ratio",
    "evt_error_budget_burn": "day-grid burn-rate running sum",
    "dq_freshness_sla": "per-day freshness grid (corpus_last = max over day grid)",
    "evt_peak_concurrency": "weeks x in-week slot grid sweep (also CARTESIAN_ALLOWED)",
    "evt_markov_stationary": "event-type^2 transition grid (pi ranking)",
    "evt_att_stratified": "stratum-level ATT table",
    "evt_uplift_qini": (
        "two bounded-grid windows: running rank-offset over the"
        " DISTINCT-score grid (bounded by max per-user event count,"
        " never user-count-sized) + cumulative sums over the 10-row"
        " decile grid"
    ),
    # dimension-/group-cardinality frames
    "agg_pareto_abc": "brand-level cumulative revenue share (dimension cardinality)",
    "agg_wilson_rank": "brand-level Wilson lower-bound ranking",
    "graph_modularity": "language-partition aggregate (communities, not edges)",
    "profile_drift": "per-column profile cells (tot_early/tot_late over profile grid)",
    "dq_benford_check": "9-row leading-digit histogram",
    # vocab-/score-cardinality frames (occurrences compress to
    # distinct-type counts before ranking)
    "txt_zipf_check": "vocab-sized rank + rank-1 max (head-of-vocab shape check)",
    "txt_vocab_coverage": "vocab-sized coverage curve (running share over distinct types)",
    "ml_lift_gains": "score-cardinality cells then 10-row decile table",
    # two-level prefix-sum offsets (the block table is rows/BLOCK —
    # orders of magnitude below row count; the per-row window is
    # partitioned by block)
    "samp_pps_systematic": "block-offset table prefix sum (N/100 rows)",
    "shard_by_token_budget": "block-offset table prefix sum",
    "shard_manifest": "shard-level manifest running offsets",
    "curation_pipeline_e2e": "block-offset prefix sum inside the packing stage",
    "samp_neyman_alloc": "stratum allocation table (3 windows over strata)",
    "samp_domain_mixture": "domain-stratum mixture weights + largest-remainder rank",
    # literal-bounded input (vec_id < 200 compact demo; the volume
    # twin sim_knn_blocked_full derives cells in-plan and is clean)
    "sim_knn_blocked": "window-count cell derivation over literal-bounded <=200-row set",
}


_LIMIT_NODES = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "CollectLimitExec",
    "LocalLimitExec",
}


def _subtree_has_limit(node) -> bool:
    stack = [node]
    while stack:
        n = stack.pop()
        if n.getClass().getSimpleName() in _LIMIT_NODES:
            return True
        children = n.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def _node_counts(df) -> dict:
    """Count physical-plan nodes by walking the pre-adaptive
    sparkPlan via py4j. Unlike text counts over
    ``explain("formatted")``, this is CACHE-STABLE: a formatted
    explain embeds each InMemoryRelation's cached child plan in its
    detail section, so text counts of "Scan parquet" inflate when an
    earlier entry's staging has warmed the cache (the r12 audit
    re-run read sim_ivf_multiprobe at 25 text-scans vs 7 in r11 with
    IDENTICAL runtime plans — pure audit-order artifact). The node
    walk stops at InMemoryTableScanExec (its cached plan is not a
    child), counting exactly what executes against the sources."""
    from collections import Counter

    counts: Counter = Counter()
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        counts[node.getClass().getSimpleName()] += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return counts


def _count_single_partition_windows(df) -> int:
    """Walk the pre-adaptive physical plan via py4j and count
    Window-family nodes whose partitionSpec is empty (the whole
    input funnels through one task at execution time). A window whose
    SUBTREE contains a limit node (TakeOrderedAndProject / Global/
    Local/CollectLimit) is NOT counted: its input is limit-bounded by
    construction — the repo's standard top-K-with-rank shape is
    ``orderBy().limit(K)`` (distributed top-K merge) followed by a
    row_number over the K survivors only."""
    count = 0
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            try:
                if node.partitionSpec().isEmpty() and not _subtree_has_limit(
                    node
                ):
                    count += 1
            except Exception:
                pass
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return count


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLAN_AUDIT.json",
        ),
    )
    ap.add_argument("--dump", metavar="DIR")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()
    out = args.out
    only = set(args.ops)
    if args.dump:
        os.makedirs(args.dump, exist_ok=True)

    from pe_firm_investment_database_pipeline_spark.plans import all_queries
    from pe_firm_investment_database_pipeline_spark.session import get_spark

    spark = get_spark("pe-pipeline-plan-audit")
    results: dict[str, dict] = {}
    violations: list[str] = []
    for name, spec in all_queries().items():
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as ex:  # an unplannable entry is itself a finding
            results[name] = {"err": str(ex)[:300]}
            violations.append(f"{name}: plan error")
            print(f"ERR  {name}: {ex}", flush=True)
            continue
        if args.dump:
            with open(os.path.join(args.dump, f"{name}.txt"), "w") as f:
                f.write(f"== {name} at {SF_DIR} ==\n\n{plan}")
        nodes = _node_counts(df)
        row = {
            # node-walk counts (cache-stable — see _node_counts);
            # one count per PHYSICAL NODE, not 2x like the old
            # formatted-text counts
            "cartesian": nodes["CartesianProductExec"],
            "batch_eval_python": nodes["BatchEvalPythonExec"],
            "bnlj": nodes["BroadcastNestedLoopJoinExec"],
            "exchanges": plan.count("ENSURE_REQUIREMENTS"),
            # the declared (Arrow-batched) Python boundary, budgeted
            # not forbidden
            "arrow_python": sum(
                nodes[n]
                for n in (
                    "ArrowEvalPythonExec",
                    "MapInPandasExec",
                    "PythonMapInArrowExec",
                    "MapInArrowExec",
                    "FlatMapGroupsInPandasExec",
                    "FlatMapGroupsInArrowExec",
                    "FlatMapGroupsInPandasWithStateExec",
                )
            ),
            "parquet_scans": nodes["FileSourceScanExec"],
            "in_memory_scans": nodes["InMemoryTableScanExec"],
            "single_partition_windows": _count_single_partition_windows(df),
        }
        results[name] = row
        bad = []
        if row["cartesian"] and name not in CARTESIAN_ALLOWED:
            bad.append(f"CartesianProduct x{row['cartesian']}")
        if row["batch_eval_python"] and name not in BATCH_EVAL_ALLOWED:
            bad.append(f"BatchEvalPython x{row['batch_eval_python']}")
        if row["single_partition_windows"] and name not in GLOBAL_WINDOW_ALLOWED:
            bad.append(
                f"single-partition Window x{row['single_partition_windows']}"
            )
        if bad:
            violations.append(f"{name}: {', '.join(bad)}")
            print(f"FAIL {name}: {', '.join(bad)}", flush=True)
        else:
            print(f"ok   {name}", flush=True)

    # subset runs MERGE into an existing artifact (the scale-suite
    # convention) so re-auditing a few changed entries never drops
    # the rest of the registry's rows
    audited = len(results)
    if only:
        try:
            merged = json.load(open(out))
        except (OSError, json.JSONDecodeError):
            merged = {}
        merged.update(results)
        results = merged
    json.dump(results, open(out, "w"), indent=1, sort_keys=True)
    print(f"\n{audited} plans audited, {len(violations)} violations")
    for v in violations:
        print(f"  {v}")
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
