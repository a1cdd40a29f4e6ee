"""Simulate the external driver: default SparkSession, run every
queries() entry at sf0.01, hash-compare against DuckDB oracle_sql().

This is the strict in-repo twin of the external driver's correctness
gate (see .claude/skills/verify/SKILL.md). Cell canon is plain
``str(v)`` (None->"NULL", NaN->"NaN") — NEVER a float format like
``%.9g``: the real driver uses str()-style cells, so Spark int64
``123`` vs DuckDB float64 ``123.0`` must FAIL here exactly as it
fails there (the masked un-CAST-HUGEINT class cost rounds 5-6).

Usage:
    PYTHONPATH=/root/repo python tools/driver_sim.py [--out FILE] [op1 op2 ...]

No positional args = full registry sweep. ``PYTHONPATH=/root/repo``
is required even when run from the repo root: Pandas-UDF queries
pickle references to the package and Spark's Python workers don't
see the driver process's ``sys.path`` mutations.

The master is ``local[N]`` with N from ``SPARK_GRAFT_CPUS`` or the
host's core count (the ``session.get_spark`` rule).

Environment probes:
    SPARK_GRAFT_SIM_SF_DIR=/root/testdata/sf0.001  # other scale factor
    SPARK_GRAFT_SIM_TZ=America/New_York            # non-UTC session zone
    SPARK_GRAFT_SIM_SHUFFLE=7                      # 7 shuffle partitions
    SPARK_GRAFT_SIM_AQE=0                          # adaptive execution off

The same comparator serves pytest: ``oracle_conn`` is the one DuckDB
oracle connection and ``check`` the one frame comparison, used by the
parity and scale tests.
"""

import json
import math
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return str(v)


def canon(df):
    # Per-column object lists, NOT iterrows(): iterrows() materializes
    # each row as a Series whose dtype is the row-wide upcast, so any
    # float column makes int64 cells stringify as "123.0" on BOTH
    # sides — silently masking exactly the int-vs-float schema class
    # this sim exists to catch (ADVICE r9 #1).
    cols = sorted(df.columns)
    col_vals = [df[c].astype(object).tolist() for c in cols]
    rows = sorted(
        "|".join(cell(v) for v in row_vals) for row_vals in zip(*col_vals)
    )
    return cols, rows


def oracle_conn(sf_dir):
    """One DuckDB connection with a view per source table over
    ``sf_dir``'s parquet files."""
    import duckdb

    from pe_firm_investment_database_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    # Pin the oracle's zone: if a fixture regeneration ships a
    # tz-annotated timestamp column, DuckDB's ts::TIMESTAMP converts
    # through its LOCAL TimeZone setting while Spark's unix_micros
    # does not — on a non-UTC host the oracle would silently shift by
    # the zone offset. (The engine side is tz-free by design.)
    con.execute("SET TimeZone='UTC'")
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def check(op_id, got_pdf, want_pdf):
    """Compare a Spark result with its oracle under the strict canon.
    Raises AssertionError naming the op and the kind of mismatch
    (schema, rows or values) with the differing columns or rows."""
    sc, sr = canon(got_pdf)
    oc, orr = canon(want_pdf)
    if sc != oc:
        raise AssertionError(
            f"{op_id}: schema mismatch\n  spark cols: {sc}\n  oracle cols: {oc}"
        )
    if sr == orr:
        return
    why = "rows" if len(sr) != len(orr) else "values"
    spark_only = list((Counter(sr) - Counter(orr)).elements())[:3]
    oracle_only = list((Counter(orr) - Counter(sr)).elements())[:3]
    raise AssertionError(
        f"{op_id}: {why} mismatch spark={len(sr)} oracle={len(orr)}\n"
        f"  spark-only: {spark_only}\n  oracle-only: {oracle_only}"
    )


def main():
    argv = sys.argv[1:]
    out = "/tmp/verify_drive/sim_results.json"
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv)

    from pyspark.sql import SparkSession
    import __spark_entry__ as E
    from pe_firm_investment_database_pipeline_spark.session import local_cpus

    builder = SparkSession.builder.master(f"local[{local_cpus()}]")
    # Optional probe: a non-UTC session timezone must not change any
    # result (all outputs are designed tz-free — year/month ints,
    # epoch-us longs, DateType). SPARK_GRAFT_SIM_TZ=America/New_York
    # runs the whole sweep under that session zone.
    tz = os.environ.get("SPARK_GRAFT_SIM_TZ")
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
    # Optional probe: every result must be PARTITION-COUNT-INVARIANT
    # (no operator may depend on how many reducers ran — the class of
    # bug where a limit/first/collect_list order leaks partitioning).
    # SPARK_GRAFT_SIM_SHUFFLE=7 runs the sweep at 7 shuffle partitions.
    parts = os.environ.get("SPARK_GRAFT_SIM_SHUFFLE")
    if parts:
        builder = builder.config("spark.sql.shuffle.partitions", parts)
    # Optional probe: every result must be PHYSICAL-PLAN-INVARIANT
    # under adaptive execution — AQE re-plans joins/partitions at
    # runtime, and no operator may leak that choice into its output
    # (the broadcast-vs-SMJ and coalesced-partition classes).
    # SPARK_GRAFT_SIM_AQE=0 runs the sweep with AQE disabled.
    if os.environ.get("SPARK_GRAFT_SIM_AQE") == "0":
        builder = builder.config("spark.sql.adaptive.enabled", "false")
    spark = builder.getOrCreate()
    con = oracle_conn(SF_DIR)

    if not only:
        n = E.entry(spark).count()
        print(f"entry() rows={n}")

    qs = E.queries()
    os_ = E.oracle_sql()
    results = {}
    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            results[name] = {"err": f"spark:{ex}"[:300]}
            fails.append(name)
            print(f"FAIL {name} spark-err {ex}", flush=True)
            continue
        try:
            odf = con.execute(os_[name]).df()
        except Exception as ex:
            results[name] = {"err": f"oracle:{ex}"[:300]}
            fails.append(name)
            print(f"FAIL {name} oracle-err {ex}", flush=True)
            continue
        sec = round(time.time() - t0, 2)
        results[name] = {"hash_match": True, "spark_rows": len(sdf), "sec": sec}
        try:
            check(name, sdf, odf)
        except AssertionError as ex:
            results[name].update(hash_match=False, err=str(ex)[:2000])
            fails.append(name)
            print(f"FAIL {ex}", flush=True)
        else:
            print(f"ok {name} rows={len(sdf)} {sec}s", flush=True)
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    # subset runs MERGE into an existing artifact (the plan_audit /
    # scale-suite convention): re-verifying a few changed entries
    # must never drop the rest of a full-sweep record
    if only:
        try:
            with open(out) as f:
                merged = json.load(f)
        except (OSError, json.JSONDecodeError):
            merged = {}
        merged.update(results)
        results = merged
    json.dump(results, open(out, "w"), indent=1)
    print(f"\n{len(results)} entries, {len(fails)} failures: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
