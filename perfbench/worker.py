"""Benchmark worker: one process, one Spark session, one workload.

Started by ``run.py``, which owns the process tree, samples its memory and
turns the raw record this worker writes into metrics. Run by hand only for
debugging:

    python3 perfbench/worker.py --workload interactive_sf0.1 --seed 1 \\
        --seconds 32 --trace 0 --sf-dir DIR --scratch DIR --out record.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from workloads import RESULT_FRONT_OWNERS, WORKLOADS, pass_order, timed_passes, workload_entries

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def canon(pdf) -> tuple[list[str], list[str]]:
    """The strict cell canon of the engine's correctness harness: plain
    ``str(v)`` per cell (None -> "NULL", NaN -> "NaN"), per-column object
    lists so an int column never stringifies as a float, rows sorted. Mirrors
    ``tools/driver_sim.canon``; kept here so the benchmark runs unchanged
    against later commits of the engine."""
    cols = sorted(pdf.columns)
    col_vals = [pdf[c].astype(object).tolist() for c in cols]
    rows = sorted("|".join(cell(v) for v in row) for row in zip(*col_vals))
    return cols, rows


def error_text(exc: BaseException) -> str:
    """First lines of an exception: enough to name the failure without a
    whole JVM stack trace in the record."""
    lines = [ln for ln in str(exc).splitlines() if ln.strip()][:3]
    return f"{type(exc).__name__}: " + " | ".join(lines)[:600]


class Oracles(threading.Thread):
    """Computes the DuckDB oracle of every entry, canonized, on one DuckDB
    thread. It runs beside the untimed warm-up pass, whose Python side only
    waits on the JVM, and is joined before the timed window opens."""

    def __init__(self, sf_dir: str, scratch: str, sql: dict[str, str]):
        super().__init__(daemon=True)
        self.sf_dir = sf_dir
        self.scratch = scratch
        self.sql = sql
        self.results: dict[str, tuple] = {}  # op -> (canon, seconds) | error text

    def run(self):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads=1")
            con.execute("SET memory_limit='2GB'")
            con.execute(f"SET temp_directory='{os.path.join(self.scratch, 'duckdb')}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for op, sql in self.sql.items():
                t0 = time.time()
                try:
                    self.results[op] = (canon(con.execute(sql).df()), time.time() - t0)
                except Exception as exc:
                    self.results[op] = "oracle: " + error_text(exc)
        finally:
            con.close()


class Runner:
    """Runs registry entries the way the workload says and records each op."""

    def __init__(self, spark, registry, sf_dir, workload, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = registry
        self.sf_dir = sf_dir
        self.workload = workload
        self.tracer = tracer
        self.seq = 0
        self.results: dict = {}  # op -> canonized warm-up result | error text

    def reset(self, op: str) -> None:
        """Untimed: drop the entry's own stream state and result front, so the
        next call re-processes its feed instead of recovering it."""
        from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
            evict_named,
        )
        from pe_firm_investment_database_pipeline_spark.streaming.windows import (
            evict_stream_state,
        )

        for spec in RESULT_FRONT_OWNERS.get(op, ()):
            evict_named(*spec)
        evict_stream_state(self.spark, self.sf_dir, op)

    def run_op(self, op: str, pass_no: int, collect: bool = False) -> dict:
        """One call of an entry: the plan call, then the action. The action is
        the noop sink, or with ``collect`` a ``toPandas`` whose canonized
        result is kept for the oracle check."""
        if self.workload.reset_per_op:
            self.reset(op)
        self.seq += 1
        group = f"{op}#{self.seq}"
        self.sc.setJobGroup(group, op)
        rec: dict = {"op": op, "pass": pass_no}
        if self.tracer is not None:
            self.tracer.begin_op()
        t0 = time.time()
        try:
            df = self.registry[op].fn(self.spark, self.sf_dir)
            t1 = time.time()
            spans = {"build": (t0, t1)}
            if self.tracer is not None:
                df._jdf.queryExecution().executedPlan()
                spans["planning"] = (t1, time.time())
            t2 = time.time()
            if collect:
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
        except Exception as exc:  # one failing op must not lose the record
            rec["wall_s"] = time.time() - t0
            rec["error"] = error_text(exc)
            if collect:
                self.results[op] = "spark: " + rec["error"]
            if self.tracer is not None:
                self.tracer.abort_op()
            return rec
        spans["action"] = (t2, t3)
        rec["wall_s"] = t3 - t0
        rec["build_s"] = t1 - t0
        rec["action_s"] = t3 - t2
        if collect:
            self.results[op] = canon(pdf)
        if self.tracer is not None:
            rec["layers"] = self.tracer.end_op(group, df, spans)
        return rec

    def warm_up(self, entries, seed) -> tuple[float, list]:
        """Untimed first pass: stages fronts and fixtures, warms the JIT and
        collects each entry's result for the oracle check. Its ops are kept
        in the record, errors included."""
        t0 = time.time()
        ops = [self.run_op(op, -1, collect=True) for op in pass_order(entries, seed, -1)]
        return time.time() - t0, ops

    def timed(self, entries, seed, passes) -> dict:
        """Closed loop, one client: ``passes`` whole seeded passes over
        ``entries``, so every run times each entry equally often."""
        ops = []
        bounds = []
        for pass_no in range(passes):
            t0 = time.time()
            ops += [self.run_op(op, pass_no) for op in pass_order(entries, seed, pass_no)]
            bounds.append((t0, time.time()))
        return {
            "window_start": bounds[0][0],
            "window_end": bounds[-1][1],
            "passes": passes,
            "pass_bounds": bounds,
            "ops": ops,
        }

    def check(self, entries, oracles: dict) -> dict:
        """Each entry's result from its warm-up call against its DuckDB
        oracle, compared under the strict canon."""
        verdicts = {}
        for op in sorted(entries):
            got = self.results.get(op, "spark: no warm-up call")
            want = oracles.get(op, "oracle: not computed")
            if isinstance(got, str):
                verdicts[op] = {"ok": False, "error": got}
            elif isinstance(want, str):
                verdicts[op] = {"ok": False, "error": want}
            else:
                want, oracle_s = want
                v = {"ok": got == want, "rows": len(got[1]), "oracle_rows": len(want[1]), "oracle_s": oracle_s}
                if got[0] != want[0]:
                    v["error"] = f"schema: {got[0]} != {want[0]}"
                elif not v["ok"]:
                    v["error"] = "values differ"
                verdicts[op] = v
        return verdicts


def run_workload(spark, registry, workload, entries, seed, seconds, sf_dir, scratch, tracer=None):
    """Warm-up, oracle check and timed passes. Returns the raw record; every
    failure is recorded in it rather than raised.

    The check compares the warm-up call's result, not a timed call's: taking
    a timed call's result would run each entry once more, which the run's
    time budget does not hold."""
    runner = Runner(spark, registry, sf_dir, workload, tracer)
    oracles = Oracles(sf_dir, scratch, {op: registry[op].oracle for op in entries})
    oracles.start()
    warm_s, warm_ops = runner.warm_up(entries, seed)
    t_wait = time.time()
    oracles.join()
    oracle_wait_s = time.time() - t_wait
    verdicts = runner.check(entries, oracles.results)
    spark.sparkContext._jvm.System.gc()
    timed = runner.timed(entries, seed, timed_passes(workload, seconds))
    bad = {op for op, v in verdicts.items() if not v["ok"]}
    for o in timed["ops"]:
        if "error" not in o and o["op"] in bad:
            o["wrong_result"] = True
    errors = {o["op"]: o["error"] for o in timed["ops"] if "error" in o}
    errors.update({op: v["error"] for op, v in verdicts.items() if not v["ok"] and op not in errors})
    return {
        "panel": list(entries),
        "warmup_s": warm_s,
        "oracle_wait_s": oracle_wait_s,
        "warmup_ops": warm_ops,
        "warmup_errors": {o["op"]: o["error"] for o in warm_ops if "error" in o},
        **timed,
        "correctness": verdicts,
        "errors": errors,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]

    from pe_firm_investment_database_pipeline_spark.plans import all_queries
    from pe_firm_investment_database_pipeline_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    session_start_s = time.time() - t0
    try:
        registry = all_queries()
        ops = workload_entries(workload, registry)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        rec = run_workload(
            spark, registry, workload, ops, args.seed, args.seconds,
            args.sf_dir, args.scratch, tracer,
        )
        if tracer is not None:
            tracer.uninstall()
        rec["session_start_s"] = session_start_s
        rec["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        rec["master"] = spark.sparkContext.master
        with open(args.out, "w") as f:
            json.dump(rec, f)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
