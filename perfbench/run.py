"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload interactive_sf0.1 --seed 1 --seconds 32 --trace 0

Runs from the root of a checkout of the engine. Starts ``worker.py`` in its
own process group, samples the memory of its process tree (driver Python,
JVM and Spark Python workers) from ``/proc``, stops every process of it at
the end, and turns the worker's raw record into the metrics listed in
BENCHMARK.json.
With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics. Everything the run writes goes under
``perfbench/_work``; the full record lands in ``perfbench/_work/records``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pe_firm_investment_database_pipeline_spark"
WORK = os.path.join(HERE, "_work")
# A run must end within 180 s; the rest is left to stop the process group
# and write the record.
RUN_BUDGET_S = 170.0

from metrics import LAYER_UNITS, end_to_end, entry_medians, layer_means
from tracing import CLK_TCK, proc_stat, process_tree
from workloads import WORKLOADS

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}
# Failed or wrong-result ops over ops attempted. It is 0 on a healthy run,
# so it is reported with the per-layer metrics, which carry no bound; the
# result line's "failed" and "attempted" give it on every run.
PER_LAYER_UNITS = {**LAYER_UNITS, "op_fail_ratio": "ratio"}


def fail(msg: str, code: int = 1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def calibration_probe() -> float:
    """Seconds for a fixed SHA-256 chain: moves only with host CPU speed
    and contention, so records from different windows can be compared."""
    t0 = time.perf_counter()
    h = b"spark-graft-host-calibration"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def heap_size() -> str:
    """An eighth of physical memory: 2 GB on a 16 GB host, enough for sf0.1
    with room to spare. The JVM is started with its whole heap committed
    and touched (see main), so the heap adds a constant to the memory peak
    and the peak moves with everything else: off-heap, driver and Python
    workers. A lazily grown heap made the peak move with GC timing, by up
    to 30% between runs."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 8192}m"
    raise RuntimeError("no MemTotal in /proc/meminfo")


def tree_rss_mb(pids) -> dict[str, float]:
    """Resident memory of the driver, JVM and Python workers among ``pids``
    by command name, in MB. Python processes count their proportional set
    size, so pages that forked Python workers share with their parent are
    counted once. The JVM shares little, and counts its resident set from
    ``status``: reading its ``smaps_rollup`` walks a multi-GB address space
    under the JVM's memory-map lock, which took about 45 ms a sample on a
    4-vCPU host and slowed the ops being timed.

    Short-lived helpers the JVM spawns (``chmod``, ``jspawnhelper``) are left
    out: until they exec, they share the JVM's address space and repeat its
    whole size. For the same reason a ``java`` process counts only when it
    has more than one thread."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(ln.split(":", 1) for ln in f if ":" in ln)
            comm = status["Name"].strip()
            if comm == "java" and int(status["Threads"]) > 1:
                kb = int(status["VmRSS"].split()[0])
            elif comm.startswith("python"):
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    kb = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            else:
                continue
        except (OSError, KeyError, StopIteration):
            continue  # exited between listing and reading
        out[comm] = out.get(comm, 0.0) + kb / 1024.0
    return out


class RssSampler(threading.Thread):
    """Samples the resident memory of the worker's process tree every
    0.25 s, and keeps every process group the tree has used so that all of
    it can be stopped. The pre-touched heap keeps the peak flat between
    samples."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.pgids = {root}
        self.samples: list[tuple[float, dict[str, float]]] = []
        self.steal: list[tuple[float, int]] = []  # (time, host steal ticks)
        self.stop = threading.Event()

    def run(self):
        while not self.stop.is_set():
            tree = process_tree(self.root)
            self.pgids.update(tree.values())
            self.samples.append((time.time(), tree_rss_mb(tree)))
            with open("/proc/stat") as f:
                self.steal.append((time.time(), int(f.readline().split()[8])))
            self.stop.wait(0.25)

    def steal_share(self, lo: float, hi: float, cores: int) -> float:
        """Share of the host's CPU time that the hypervisor took from this
        machine during [lo, hi]. Runs on a shared host slow down together
        when it is high, so it explains run-to-run spread."""
        inside = [(t, n) for t, n in self.steal if lo <= t <= hi]
        if len(inside) < 2:
            return 0.0
        (t0, n0), (t1, n1) = inside[0], inside[-1]
        return (n1 - n0) / CLK_TCK / ((t1 - t0) * cores)

    def peak(self, lo: float, hi: float) -> tuple[float, dict[str, float]]:
        """The largest tree total inside [lo, hi], with its breakdown."""
        inside = [by for t, by in self.samples if lo <= t <= hi]
        if not inside:
            raise RuntimeError("no memory sample inside the timed window")
        by = max(inside, key=lambda b: sum(b.values()))
        return sum(by.values()), by


def group_pids(pgids) -> list[int]:
    """Live processes in any of the process groups ``pgids``."""
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st is not None and int(st[2]) in pgids and st[0] != "Z":
                out.append(int(name))
    return out


def stop_groups(pgids) -> None:
    """Stop every process left in the groups and wait until all have ended."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not group_pids(pgids):
            return
        for pgid in pgids:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while group_pids(pgids) and time.monotonic() < deadline:
            time.sleep(0.05)
    if group_pids(pgids):
        raise RuntimeError(f"processes of groups {sorted(pgids)} survived SIGKILL")


def outcome(raw: dict) -> tuple[int, int, bool]:
    """(attempted, failed, correct) of a worker record. An op failed when it
    raised or when its entry's result did not match the oracle."""
    ops = raw["ops"]
    failed = sum(1 for o in ops if "error" in o or o.get("wrong_result"))
    correct = failed == 0 and all(v["ok"] for v in raw["correctness"].values())
    return len(ops), failed, correct


def testdata_root() -> str:
    """The fixed testdata, where the engine's entry module
    (``__spark_entry__``) says it lives."""
    sys.path.insert(0, ROOT)
    import __spark_entry__

    return os.path.dirname(__spark_entry__.SF0001)


def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if not (
        os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        fail(f"no engine checkout at {ROOT} ({PACKAGE}/ and __spark_entry__.py)", 2)
    workload = WORKLOADS[args.workload]
    sf01 = os.path.join(testdata_root(), "sf0.1")
    if not os.path.isfile(os.path.join(sf01, "lineitem.parquet")):
        fail(f"testdata not found at {sf01}", 2)

    tmp = os.path.join(WORK, "tmp")
    records = os.path.join(WORK, "records")
    subprocess.run(["rm", "-rf", tmp], check=True)
    for d in (tmp, records):
        os.makedirs(d, exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    heap = heap_size()
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=heap,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            f'-Xms{heap} -XX:+AlwaysPreTouch" '
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp}/hadoop pyspark-shell"
        ),
    )
    name = f"{workload.name}_seed{args.seed}_trace{args.trace}"
    raw_path = os.path.join(tmp, "raw.json")
    log_path = os.path.join(records, name + ".log")
    calib_start, load_start = calibration_probe(), loadavg()

    spawn = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", workload.name, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--sf-dir", sf01, "--scratch", tmp, "--out", raw_path,
            ],
            cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
    sampler = RssSampler(proc.pid)
    sampler.start()
    signal.signal(signal.SIGTERM, lambda *_: (stop_groups(sampler.pgids), sys.exit(1)))
    try:
        rc = proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        sampler.stop.set()
        sampler.join()
        stop_groups(sampler.pgids)
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("worker timed out" if rc is None else f"worker exited with {rc}; log {log_path}")
    with open(raw_path) as f:
        raw = json.load(f)

    context = {
        "sf": 0.1,
        "sf_dir": sf01,
        "cores": cores,
        "heap": heap,
        "calib_start_s": calib_start,
        "calib_end_s": calibration_probe(),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "run_s": time.time() - t_start,
    }
    context["steal_share"] = sampler.steal_share(raw["window_start"], raw["window_end"], cores)
    peak = sampler.peak(raw["window_start"], raw["window_end"])
    record = make_record(raw, workload, args.seed, args.seconds, args.trace, spawn, peak, context)
    if args.trace:
        untraced = os.path.join(records, f"{workload.name}_seed{args.seed}_trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["ops_per_s"]
            record["trace_overhead_ops_per_s"] = record["per_layer"]["trace.ops_per_s"] - base
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for line in report(record):
        print(line)


def make_record(raw, workload, seed, seconds, trace, spawn, peak, context) -> dict:
    """The full record of one run: its context, the end-to-end metrics, the
    oracle verdicts, every op, and with ``trace`` the per-layer rollup."""
    ops = raw["ops"]
    window_s = raw["window_end"] - raw["window_start"]
    e2e = end_to_end(ops, raw["pass_bounds"])
    attempted, failed, correct = outcome(raw)
    peak_mb, peak_by = peak
    record = {
        "workload": workload.name,
        "why": workload.why,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        **context,
        "master": raw["master"],
        "shuffle_partitions": raw["shuffle_partitions"],
        "session_start_s": raw["session_start_s"],
        "warmup_s": raw["warmup_s"],
        "oracle_wait_s": raw["oracle_wait_s"],
        "window_s": window_s,
        "passes": raw["passes"],
        "pass_bounds": raw["pass_bounds"],
        "panel": raw["panel"],
        "metrics": {
            "setup_s": raw["window_start"] - spawn,
            "ops_per_s": e2e["ops_per_s"],
            "op_p50_s": e2e["op_p50_s"],
            "op_tail_s": e2e["op_tail_s"],
            "peak_rss_mb": peak_mb,
        },
        "peak_rss_by_command_mb": peak_by,
        "op_tail_pct": e2e["op_tail_pct"],
        "op_tail_rule_met": e2e["op_tail_rule_met"],
        "op_samples": e2e["op_samples"],
        "entry_median_s": entry_medians(ops),
        "attempted": attempted,
        "failed": failed,
        "correct": correct,
        "op_fail_ratio": failed / attempted,
        "correctness": raw["correctness"],
        "errors": raw["errors"],
        "warmup_errors": raw["warmup_errors"],
        "warmup_ops": raw["warmup_ops"],
        "ops": ops,
    }
    if trace:
        record["per_layer"] = layer_means(ops, raw["session_start_s"], e2e["ops_per_s"])
    return record


def report(record: dict) -> list[str]:
    """Human-readable lines, then the one-line JSON result. The JSON carries
    the end-to-end metrics untraced and the per-layer metrics traced."""
    e2e = record["metrics"]
    lines = [
        f"workload {record['workload']} seed {record['seed']} on local[{record['cores']}], "
        f"heap {record['heap']}, data {record['sf_dir']}",
        f"panel ({len(record['panel'])}): {' '.join(record['panel'])}",
    ]
    lines += [f"  {k} = {e2e[k]:.4f} {u}" for k, u in E2E_UNITS.items()]
    lines.append(
        f"  op_fail_ratio = {record['op_fail_ratio']:.4f} ratio "
        f"({record['failed']}/{record['attempted']} ops)"
    )
    lines.append(
        f"  op_tail is p{record['op_tail_pct']:.1f} of {record['op_samples']} samples"
        + ("" if record["op_tail_rule_met"] else " (under 20 samples: the median)")
    )
    checked = record["correctness"]
    lines.append(f"oracle: {sum(v['ok'] for v in checked.values())}/{len(checked)} entries match")
    lines += [f"  FAIL {op}: {err}" for op, err in sorted(record["errors"].items())]
    if "trace_overhead_ops_per_s" in record:
        lines.append(
            f"tracing overhead: {record['trace_overhead_ops_per_s']:+.4f} ops/s "
            "(traced minus untraced, same seed)"
        )
    if record["trace"]:
        values = {**record["per_layer"], "op_fail_ratio": record["op_fail_ratio"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    return lines + [json.dumps(result)]


if __name__ == "__main__":
    main()
