"""Per-layer tracing from outside the engine.

The traced run wraps spans around the engine's public entry points without
editing them: ``sources.tables.load_table`` and
``functions.session_cache.memoize`` are replaced, for the life of the
tracer, in every engine module that imported them. Spark-side counts come
from the status store (jobs of the op's job group and of the streaming
queries the op started), a ``StreamingQueryListener``, and ``/proc`` for the
Python worker processes.
"""

from __future__ import annotations

import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from metrics import rollup

PACKAGE = "pe_firm_investment_database_pipeline_spark"
MB = 1024.0 * 1024.0
CLK_TCK = os.sysconf("SC_CLK_TCK")


class _Listener(StreamingQueryListener):
    """Collects streaming progress per query runId. Events arrive on the
    listener bus thread, so every access goes through the lock."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[tuple[int, float]]] = {}

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.setdefault(str(p.runId), []).append(
                (int(p.numInputRows), float(p.batchDuration) / 1000.0)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))


class Tracer:
    """Span and counter recorder for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.listener = _Listener()
        self._patched: list[tuple[object, str, object]] = []
        self._op: dict | None = None
        self._memo_depth = 0
        self._streams_seen = 0

    # -- installation -----------------------------------------------------
    def install(self) -> None:
        from pe_firm_investment_database_pipeline_spark.functions import session_cache
        from pe_firm_investment_database_pipeline_spark.sources import tables

        self._patch(tables.load_table, self._wrap_load_table(tables.load_table))
        self._patch(session_cache.memoize, self._wrap_memoize(session_cache.memoize))
        self.spark.streams.addListener(self.listener)

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()
        self.spark.streams.removeListener(self.listener)

    def _patch(self, orig, wrapper) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for name, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, name, wrapper)
                    self._patched.append((mod, name, orig))

    def _wrap_load_table(self, orig):
        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                if self._op is not None:
                    self._op["load_table_calls"] += 1
                    self._op["load_table_s"] += time.perf_counter() - t0

        return load_table

    def _wrap_memoize(self, orig):
        def memoize(cache, key, build):
            op = self._op
            if op is None:
                return orig(cache, key, build)
            if cache.get(key) is not None:
                op["cache_hits"] += 1
                return orig(cache, key, build)
            op["cache_misses"] += 1

            def timed_build():
                # nested front builds are inside the outer build's time
                self._memo_depth += 1
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    self._memo_depth -= 1
                    if self._memo_depth == 0:
                        op["cache_build_s"] += time.perf_counter() - t0

            return orig(cache, key, timed_build)

        return memoize

    # -- per-op ----------------------------------------------------------
    def begin_op(self) -> None:
        with self.listener.lock:
            self._streams_seen = len(self.listener.started)
        self._op = {
            "load_table_calls": 0,
            "load_table_s": 0.0,
            "cache_hits": 0,
            "cache_misses": 0,
            "cache_build_s": 0.0,
            "py_cpu0": python_worker_cpu_s(os.getpid()),
        }

    def abort_op(self) -> None:
        self._op = None
        self._memo_depth = 0

    def end_op(self, group: str, df, spans: dict) -> dict:
        """Layer metrics of the op that just ran under job group ``group``."""
        op, self._op = self._op, None
        runs = self._stream_runs()
        layers = {
            "sources.load_table_calls": op["load_table_calls"],
            "sources.load_table_s": op["load_table_s"],
            "session_cache.hits": op["cache_hits"],
            "session_cache.misses": op["cache_misses"],
            "session_cache.build_s": op["cache_build_s"],
            "python_workers.cpu_s": python_worker_cpu_s(os.getpid()) - op["py_cpu0"],
        }
        layers.update(catalyst_phases(df))
        layers.update(self._streaming(runs))
        jobs = []
        for g in [group, *runs]:
            jobs.extend(self.sc.statusTracker().getJobIdsForGroup(g))
        counts, intervals = self._spark_counts(jobs)
        layers.update(counts)
        build_end = spans["build"][1]
        layers["plans.build_jobs"] = sum(1 for a, _ in intervals if a < build_end)
        parts = rollup(spans, intervals)
        layers["plans.build_s"] = parts["build_s"]
        layers["op.planning_s"] = parts["planning_s"]
        layers["op.job_active_s"] = parts["job_active_s"]
        layers["op.unattributed_s"] = parts["unattributed_s"]
        return layers

    def _stream_runs(self, timeout_s: float = 2.0) -> list[str]:
        """runIds of the streaming queries started since begin_op, after
        their terminated events arrived (bounded wait: the bus is async)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self.listener.lock:
                runs = self.listener.started[self._streams_seen :]
                done = all(r in self.listener.terminated for r in runs)
            if done or time.monotonic() > deadline:
                return runs
            time.sleep(0.01)

    def _streaming(self, runs: list[str]) -> dict:
        with self.listener.lock:
            prog = [p for r in runs for p in self.listener.progress.get(r, [])]
        return {
            "streaming.queries": len(runs),
            "streaming.batches": len(prog),
            "streaming.batch_s": sum(d for _, d in prog),
            "streaming.input_rows": sum(n for n, _ in prog),
        }

    def _spark_counts(self, job_ids) -> tuple[dict, list]:
        intervals = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            try:
                jd = self.store.job(jid)
            except Exception:  # aged out of the status store
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                intervals.append(
                    (
                        sub.get().getTime() / 1000.0,
                        comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                    )
                )
        c = {
            "spark.jobs": len(job_ids),
            "spark.stages": 0,
            "spark.stages_lost": 0,
            "spark.tasks": 0,
            "spark.exec_run_s": 0.0,
            "spark.exec_cpu_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.spill_mb": 0.0,
            "spark.input_mb": 0.0,
            "spark.output_mb": 0.0,
            "spark.output_records": 0,
        }
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # aged out of retainedStages
                c["spark.stages_lost"] += 1
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += sd.numTasks()
            c["spark.exec_run_s"] += sd.executorRunTime() / 1000.0
            c["spark.exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["spark.gc_s"] += sd.jvmGcTime() / 1000.0
            c["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            c["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            c["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            c["spark.input_mb"] += sd.inputBytes() / MB
            c["spark.output_mb"] += sd.outputBytes() / MB
            c["spark.output_records"] += sd.outputRecords()
        c["spark.task_wait_s"] = max(0.0, c["spark.exec_run_s"] - c["spark.exec_cpu_s"])
        return c, intervals


def catalyst_phases(df) -> dict:
    """Analysis, optimization and planning time of the DataFrame's own
    QueryExecution (``tracker().phases()``), after planning was forced."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[f"catalyst.{name}_s"] = ph.get().durationMs() / 1000.0 if ph.isDefined() else 0.0
    return out


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> dict[int, int]:
    """Live processes descended from ``root``, root included, mapped to
    their process group. Walks parent links rather than one process group:
    the PySpark daemon moves itself and its Python workers into a group of
    their own."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root] if root in stats else []
    while todo:
        pid = todo.pop()
        out[pid] = int(stats[pid][2])
        todo.extend(children.get(pid, ()))
    return out


def python_worker_cpu_s(driver_pid: int) -> float:
    """CPU seconds of the Spark Python workers: every process below the
    driver except the JVM, with the time of reaped children (workers that
    exited) included through cutime/cstime."""
    total = 0
    for pid in process_tree(driver_pid):
        if pid == driver_pid:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
        except OSError:
            continue
        st = proc_stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK
