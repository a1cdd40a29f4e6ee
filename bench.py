"""Benchmark harness: every registry entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py               # full-registry sweep
    python bench.py --scaling     # heavy subset at ~sf1.0 on two core counts

The sweep prints ONE JSON line:
  {"metric": "headline_queries_total_runtime", "value": <total sec>,
   "unit": "sec", "queries": {"<op>": sec, ...}, "sf": <sf>, ...}
and writes the full record, with the per-layer metrics of each entry's
cold call, to a new file under bench_records/. A run never writes a
tracked file.

Every call runs through perfbench's ``Runner.run_op``: the plan call, then
the noop sink (full computation, no driver collect), under a Spark job
group named after the entry. Timings include Catalyst planning and share
one JVM/session, the way a resident cluster would serve them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone
from types import SimpleNamespace

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
# perfbench's modules import each other by bare name
sys.path.append(os.path.join(REPO_ROOT, "perfbench"))

from run import calibration_probe, loadavg
from tracing import Tracer
from worker import Runner

from __spark_entry__ import SF0001
from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
    evict_owner,
    evict_staged,
)
from pe_firm_investment_database_pipeline_spark.plans import all_queries
from pe_firm_investment_database_pipeline_spark.session import get_spark, local_cpus
from pe_firm_investment_database_pipeline_spark.streaming.windows import (
    evict_stream_state,
)

RECORDS_DIR = "bench_records"
# The bench evicts an entry's own fronts and stream state itself (see
# _sweep), so the Runner resets nothing.
_NO_RESET = SimpleNamespace(reset_per_op=False)

# Heavy join/agg/dedup subset for --scaling. At sf0.1 more cores make the
# median entry slower (task scheduling and exchange overhead dominate), so
# parallel scaling is measured at ~sf1.0 (the key-shifted 10x replication
# tests/test_scale_10x.py synthesizes). Entries are chosen so the warm call
# does the declared work (no result-front owners).
_SCALING_OPS = [
    "flagship_revenue_by_nation",
    "agg_hash_groupby",
    "agg_distinct_exact",
    "agg_distinct_approx",
    "join_equi_hash",
    "join_star_q5_local",
    "join_salted_skew",
    "join_score_argmax",
    "dedup_minhash_lsh",
    "dedup_ngram_prefix",
    "er_pipeline_e2e",
    "agg_market_basket",
    "evt_cusum_changepoint",
    "fin_avg_cost_basis",
    "fin_npv_schedule",
    "agg_weighted_median",
    "dq_order_totals_recon",
    "txt_pmi_pairs",
    "ml_linreg_multivar",
    "profile_cardinality_report",
]


def _runs_after_warm(warm_run_sec: float) -> int:
    """Warm calls after the first one: one more for sub-1.5 s warm paths
    (best-of-2 warm; a stray 100 ms is a 30% swing there), none for
    work-dominated multi-second entries. Keyed on the first WARM call, not
    the cold one: an entry with expensive one-time staging but a sub-second
    warm path is exactly the class that needs the extra call."""
    return 1 if warm_run_sec < 1.5 else 0


def _warm_up(spark, registry, ops, warm_dir: str) -> dict[str, str]:
    """Untimed warm-up: run each of ``ops`` once at ``warm_dir``.
    Returns {op: error text} for the entries that raised; the others
    still run."""
    runner = Runner(spark, registry, warm_dir, _NO_RESET)
    recs = [runner.run_op(op, -1) for op in ops]
    return {r["op"]: r["error"] for r in recs if "error" in r}


class _EntryFailed(Exception):
    """A call of an entry raised; carries Runner's error text."""


def _sweep(spark, registry, ops, sf_dir: str):
    """Times every entry of ``ops`` in order: a cold call, traced, then
    best-of-N untraced warm calls (see _runs_after_warm). Returns
    (timings, cold, layers, errors): an entry that raises gets its error
    text in ``errors`` and nothing else, and the sweep carries on."""
    runner = Runner(spark, registry, sf_dir, _NO_RESET)
    tracer = Tracer(spark)

    def call(op: str, traced: bool = False) -> dict:
        # Drop the entry's OWN result fronts and stream state before every
        # call, so cold ≈ warm ≈ build+serve for result owners and stream
        # entries re-process their feed instead of recovering it. Shared
        # index fronts and input fixtures have no owner and stay warm.
        evict_owner(op)
        evict_stream_state(spark, sf_dir, op)
        runner.tracer = tracer if traced else None
        rec = runner.run_op(op, 0)
        if "error" in rec:
            raise _EntryFailed(rec["error"])
        return rec

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    layers: dict[str, dict] = {}
    errors: dict[str, str] = {}
    tracer.install()
    try:
        last_gc = time.monotonic()
        for op in ops:
            # Untimed GC fence between entries: the sweep makes garbage
            # (checkpoint blocks, broadcasts, shuffle files) faster than the
            # heap's organic old-gen GCs reclaim it, which slowed the tail
            # ~1.4x; a periodic GC timer instead put its pauses inside timed
            # calls. The 1 s drain covers one entry's cleaner backlog.
            if time.monotonic() - last_gc > 75:
                spark.sparkContext._jvm.System.gc()
                time.sleep(1.0)
                last_gc = time.monotonic()
            try:
                c = call(op, traced=True)
                best = call(op)["wall_s"]
                for _ in range(_runs_after_warm(best)):
                    best = min(best, call(op)["wall_s"])
            except _EntryFailed as exc:
                errors[op] = exc.args[0]
                continue
            cold[op] = round(c["wall_s"], 3)
            layers[op] = c["layers"]
            timings[op] = round(best, 3)
    finally:
        tracer.uninstall()
    return timings, cold, layers, errors


def _write_record(doc: dict, tag: str, root: str = REPO_ROOT) -> str:
    """Write ``doc`` to a new file <root>/bench_records/<UTC time>_<tag>.json
    and return its path. The file is created exclusively: a record is
    never overwritten."""
    out_dir = os.path.join(root, RECORDS_DIR)
    os.makedirs(out_dir, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    path = os.path.join(out_dir, f"{stamp}_{tag}.json")
    with open(path, "x") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    load_start = loadavg()
    spark = get_spark("pe-pipeline-bench")
    registry = all_queries()
    ops = list(registry)

    # Untimed warm-up of the sweep's own op list at the smallest sf: tiered
    # JIT, codegen, shuffle/broadcast machinery and the Arrow serializers
    # only warm on the code paths actually run. Then drop the sf0.001
    # fronts so the timed sweep starts with clean cache state.
    warmup_errors = _warm_up(spark, registry, ops, SF0001)
    evict_staged()
    # Quiesce: reclaiming the warm-up's dead checkpoint RDDs, broadcasts and
    # shuffle files (JVM GC + the ContextCleaner's async queue) must not
    # bill to the first timed entries.
    for _ in range(2):
        spark.sparkContext._jvm.System.gc()
        time.sleep(4)

    calib_start = calibration_probe()
    t0 = time.time()
    timings, cold, layers, errors = _sweep(spark, registry, ops, sf_dir)
    sweep_s = time.time() - t0
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "calib_start": calib_start,
        "calib_end": calibration_probe(),
        "cold_sec": cold,
        "errors": errors,
        "warmup_errors": warmup_errors,
    }
    cores = local_cpus()
    record = {**out, "sf_dir": sf_dir, "cores": cores, "sweep_s": round(sweep_s, 3), "layers": layers}
    path = _write_record(record, f"c{cores}_sf{sf}")
    print(f"record: {path}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


def _scaling_worker(sf_dir: str) -> None:
    """Child process: sweep _SCALING_OPS at $SPARK_GRAFT_CPUS against
    ``sf_dir`` and print one SCALING_JSON line."""
    spark = get_spark("pe-pipeline-scaling")
    timings, cold, layers, errors = _sweep(spark, all_queries(), _SCALING_OPS, sf_dir)
    leg = {"queries": timings, "cold_sec": cold, "layers": layers, "errors": errors}
    print("SCALING_JSON:" + json.dumps(leg))
    spark.stop()


def _scaling_main() -> None:
    """Parent: synthesize or reuse the ~sf1.0 dir, run the worker in a
    separate process (the master is fixed per JVM) at all of this host's
    cores and at a quarter of them, and write the `scaling` block to its
    own record."""
    from tests.test_scale_10x import SCALE_DIR, _build_scale_dir

    _build_scale_dir()
    nproc = len(os.sched_getaffinity(0))
    hi, lo = nproc, max(1, nproc // 4)
    legs = {}
    for cpus in dict.fromkeys((hi, lo)):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-worker", SCALE_DIR],
            capture_output=True,
            text=True,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
            cwd=REPO_ROOT,
        )
        line = next(
            (ln for ln in proc.stdout.splitlines() if ln.startswith("SCALING_JSON:")), None
        )
        if line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise SystemExit(f"scaling worker at {cpus} cpus produced no record")
        legs[cpus] = json.loads(line[len("SCALING_JSON:"):])
    warm_hi, warm_lo = legs[hi]["queries"], legs[lo]["queries"]
    block = {
        "sf_dir": SCALE_DIR,
        "note": (
            "warm sec at ~sf1.0 (10x key-shifted replication); "
            f"ratio_{lo}_over_{hi} > 1 means more cores help"
        ),
        "loadavg": loadavg(),
        "calib": calibration_probe(),
        **{f"cpus{n}": leg for n, leg in legs.items()},
        f"ratio_{lo}_over_{hi}": {
            op: round(warm_lo[op] / t, 2) for op, t in warm_hi.items() if warm_lo.get(op)
        },
    }
    path = _write_record({"scaling": block}, f"scaling_c{hi}_c{lo}_sf1.0")
    print(f"record: {path}", file=sys.stderr)
    print(json.dumps({"scaling": {k: v for k, v in block.items() if not k.startswith("cpus")}}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        _scaling_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(sys.argv[2])
    else:
        main()
