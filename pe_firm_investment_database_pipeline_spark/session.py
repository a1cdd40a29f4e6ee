"""SparkSession factory.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the configs are
chosen to be cluster-shaped: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (vectorized Python
interchange for the few Pandas-UDF stages), UTC session timezone
(deterministic date math vs the DuckDB oracle), and shuffle
partitions sized to the core count rather than the 200 default.

At 100 TB on a real cluster the same code runs with
``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and
``spark.sql.files.maxPartitionBytes`` at 128-256 MB; nothing in the
query plans assumes local mode.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores of the ``local[N]`` master: $SPARK_GRAFT_CPUS, else the
    host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_spark(
    app_name: str = "pe-pipeline-spark",
    driver_memory: str | None = None,
) -> SparkSession:
    cpus = local_cpus()
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        # Resident-app hygiene (r12, guide §5): a long-lived session
        # serving hundreds of short queries accumulates dead state —
        # eager-localCheckpoint RDD blocks, broadcast relations and
        # shuffle files are only reclaimed when a JVM GC collects
        # their driver-side references and the ContextCleaner's
        # async queue drains. With a 16 g heap those old-gen GCs are
        # so rare that a 400-query sweep measurably degrades toward
        # its tail (block-manager churn + listener-store growth read
        # as a uniform ~1.4x slowdown on sub-second entries; the
        # host-calibration probe stays flat, proving it is
        # in-process). Setting spark.cleaner.periodicGC.interval to
        # 2min here was tried and REVERTED: System.gc() runs a full
        # STW collection and the periodic timer is blind to what the
        # app is doing, so during a timed sweep the multi-second
        # pauses land INSIDE random queries' timed runs (the record-B
        # evidence: evt_bot_score 0.9→7.1 s with bit-identical code
        # while neighbors and the calibration probe stayed flat, plus
        # ~8 scattered 1.4-1.7x one-off spikes ≈ one per 2-min tick).
        # The garbage bound belongs at the WORKLOAD's quiet points:
        # bench.py fences the sweep with untimed inter-entry GCs; a
        # resident cluster app should likewise trigger its hygiene GC
        # between requests, not on a timer.
        # The status stores retain 1000 executions / 1000 jobs of
        # plan graphs and metrics even with the UI disabled (they
        # feed the status APIs) — cap them so a many-query session's
        # listener heap stays bounded. NOTE: the caps truncate
        # status-API history for EVERY get_spark() consumer.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # managed tables (bucketed-join tests) land in tmp, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "pe_spark_warehouse"),
        )
        # File-sink I/O layer (guide §6, r12 optimization round):
        # commit algorithm v2 renames task output straight to the
        # destination instead of task->job->final double renames —
        # one rename per output file saved on every file sink; the
        # v1 default only matters for mid-job visibility on
        # non-atomic cloud stores, not POSIX-rename local/HDFS dirs.
        # On a real cluster the equivalent posture is the
        # object-store committers (magic/S3A). _SUCCESS markers stay
        # ON (Spark's default; no package code reads them).
        # NOTE: overriding fs.file.impl with RawLocalFileSystem (to
        # drop ChecksumFileSystem's per-file .crc shadows — measured
        # 2.7x on the fragment-stage write) was tried and REVERTED:
        # Hadoop's FileSystem.getLocal() hard-casts the file:// fs
        # to LocalFileSystem, and the RocksDB state-store file
        # manager calls it — the cast ClassCastExceptions and the
        # RocksDB backend (the pinned 100 TB state backend,
        # tests/test_streaming.py::test_stateful_ops_run_on_rocksdb_backend)
        # cannot commit. No Hadoop conf disables local checksum
        # writing without that cast breaking, so the .crc win is
        # only available cluster-side (HDFS/object stores don't
        # write client-side shadow files).
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
