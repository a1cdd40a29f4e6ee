"""Pure metric helpers: percentiles, interval arithmetic and the per-op
layer rollup. No Spark here, so the unit tests exercise them directly."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, bool]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Returns (value, percentile, rule_met). The value is the sorted sample at
    nearest-rank position n - TAIL_BEYOND, so exactly TAIL_BEYOND samples sit
    after it. Below 2 * TAIL_BEYOND samples that percentile falls under the
    median, which is not a tail: the median is returned instead, with
    ``rule_met`` False so the record says so."""
    if not values:
        raise ValueError("tail of an empty sample")
    s = sorted(values)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return statistics.median(s), 50.0, False
    rank = n - TAIL_BEYOND  # 1-based nearest rank
    return s[rank - 1], 100.0 * rank / n, True


def union_within(intervals, lo: float, hi: float) -> float:
    """Total length of the union of (start, end) intervals clipped to
    [lo, hi]. Open intervals (end None) are taken to end at ``hi``."""
    clipped = sorted(
        (max(a, lo), min(hi if b is None else b, hi))
        for a, b in intervals
        if a is not None
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(spans: dict[str, tuple[float, float]], job_intervals) -> dict[str, float]:
    """Split one op's wall time into layers that add up to it.

    ``spans`` holds the op's consecutive phases as (start, end): ``build``
    (the plan call), optional ``planning`` (forced Catalyst planning) and
    ``action`` (the noop sink). Job-active time is counted only inside the
    action span, because jobs launched during the build are already inside
    ``build``. The remainder is ``unattributed``: driver and scheduling time
    of the action during which no job of the op was running."""
    start = spans["build"][0]
    end = spans["action"][1]
    wall = end - start
    build = spans["build"][1] - spans["build"][0]
    planning = spans["planning"][1] - spans["planning"][0] if "planning" in spans else 0.0
    act_lo, act_hi = spans["action"]
    job_active = union_within(job_intervals, act_lo, act_hi)
    return {
        "wall_s": wall,
        "build_s": build,
        "planning_s": planning,
        "job_active_s": job_active,
        "unattributed_s": wall - build - planning - job_active,
    }


def entry_medians(ops: list[dict]) -> dict[str, float]:
    """Median wall time of each entry over its completed timed calls."""
    by_entry: dict[str, list[float]] = {}
    for o in ops:
        if "error" not in o:
            by_entry.setdefault(o["op"], []).append(o["wall_s"])
    return {op: statistics.median(walls) for op, walls in sorted(by_entry.items())}


def end_to_end(ops: list[dict], pass_bounds) -> dict[str, float]:
    """ops_per_s, op_p50_s and op_tail_s over the timed ops of one run.

    Each is a median, so that one pass run while the host was slow does not
    move it:

    - ``ops_per_s`` is the median over the timed passes of the ops that
      completed without raising per second of the pass's wall time (which
      includes the untimed per-op resets). ``pass_bounds`` holds each pass's
      (start, end), in pass order.
    - ``op_p50_s`` is the median over the panel's entries of each entry's
      median latency: the middle entry, its calls pooled. The median of the
      single calls is noisier: the middle of a panel holds several entries
      within 20% of each other and a single call varies by about 15%, so
      that median spread 0.10 (quartile distance over median) between
      quiet-host runs on 4 vCPUs, the per-entry centre 0.03-0.04.
    - ``op_tail_s`` is read from the single calls, by the ten-beyond rule of
      ``tail``."""
    walls = [o["wall_s"] for o in ops if "error" not in o]
    if not walls:
        raise ValueError("no timed op completed")
    rates = [
        sum(1 for o in ops if o["pass"] == i and "error" not in o) / (hi - lo)
        for i, (lo, hi) in enumerate(pass_bounds)
    ]
    value, pct, met = tail(walls)
    return {
        "ops_per_s": statistics.median(rates),
        "op_p50_s": statistics.median(entry_medians(ops).values()),
        "op_tail_s": value,
        "op_tail_pct": pct,
        "op_tail_rule_met": met,
        "op_samples": len(walls),
    }


# per_layer metric -> unit. Times and counts are means per timed op;
# session.start_s is per run; hit_ratio pools the run's hits and misses.
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "session_cache.hits": "count",
    "session_cache.misses": "count",
    "session_cache.hit_ratio": "ratio",
    "session_cache.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "op.planning_s": "s",
    "op.job_active_s": "s",
    "op.unattributed_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_lost": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_wait_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.output_records": "rows",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.input_rows": "rows",
    "python_workers.cpu_s": "s",
    "trace.ops_per_s": "1/s",
}


def layer_means(ops: list[dict], session_start_s: float, ops_per_s: float) -> dict[str, float]:
    """Roll the traced ops' layer metrics up to one value per metric."""
    traced = [o["layers"] for o in ops if "layers" in o]
    if not traced:
        raise ValueError("no traced op completed")
    out = {}
    for name in LAYER_UNITS:
        if all(name in t for t in traced):
            out[name] = sum(t[name] for t in traced) / len(traced)
    hits = sum(t["session_cache.hits"] for t in traced)
    misses = sum(t["session_cache.misses"] for t in traced)
    out["session_cache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    out["session.start_s"] = session_start_s
    out["trace.ops_per_s"] = ops_per_s
    return out
