"""Typed parquet scans over the driver's star schema (repo:TESTDATA.md).

SURVEY.md §2.1 ``src_parquet_scan``. Schemas are declared in
repo:FIXTURES.md §B. Spark infers each table's schema from its parquet
footer, which costs one Spark job; ``_scan`` runs that inference once
per (application, dataset, table) and every later ``load_table`` call
passes the kept schema to ``spark.read.schema(...)``, so a warm read
launches no job. Catalyst still pushes filters and projections into
the scan. On a cluster these would be partitioned/bucketed tables; the
query plans only depend on logical schema, so swapping in a
``spark.read.table`` of a bucketed catalog table is a one-line change.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..functions.session_cache import front, shared_copy

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region=5, nation=25 rows are fixed-cardinality in TPC-H-like schemas).
# They are never pre-split: one scan task is all a 25-row table needs.
BROADCAST_DIMS = ("region", "nation")

# Spark's default split size (spark.sql.files.maxPartitionBytes).
_SPLIT_BYTES = 128 * 1024 * 1024


def _spread(df: DataFrame, sf_dir: str, name: str, path: str, n: int) -> str | None:
    """Parallelism floor for under-split inputs: the path of a copy of
    ``df`` written as ``n`` part files, or None when the table already
    has at least ``n`` splits. The test data is one
    single-row-group parquet file per table, which Spark can only scan
    as ONE task, so every downstream map-side stage (regexp, shingling,
    scoring) would run on one core of ``n``. The copy is
    ``df.repartition(n)`` written once: the same deterministic
    round-robin split a per-query repartition makes, so plans see the
    same partition contents, but its scan is already ``n`` tasks
    (Spark packs at most ``defaultParallelism`` near-equal small files
    one per split) and no query pays a round-robin exchange. On a real
    cluster with 128 MB-sized files the table has enough splits and
    nothing is staged.

    The copy is a ``shared_copy`` of the dataset: staged once per host
    and (dataset, n, table), never rewritten, and a rewritten dataset
    gets a new copy."""
    try:
        size = os.path.getsize(path)
    except OSError:  # not a local file (e.g. a cluster store): never staged
        return None
    if max(1, size // _SPLIT_BYTES) >= n:
        return None
    return shared_copy(
        sf_dir, f"split{n}_{name}", lambda p: df.repartition(n).write.parquet(p)
    )


@contextmanager
def _nanos_as_long(spark: SparkSession, on: bool):
    """Scope ``spark.sql.legacy.parquet.nanosAsLong`` to one read of a
    TIMESTAMP(NANOS) footer (Spark 4 has no native nanos type; the
    legacy conf scans it as int64): save/set/restore, so it never
    leaks into how other nanos parquet columns in the session are
    scanned. The conf is consulted when the read resolves its schema;
    later actions on the returned frame run correctly after the
    restore."""
    if not on:
        yield
        return
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def _ts_is_nanos(path: str) -> bool:
    """Whether events.parquet's ``ts`` footer type is TIMESTAMP(NANOS),
    read DIRECTLY from the footer (pyarrow, no Spark job)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as papq

        t = papq.read_schema(path).field("ts").type
    except Exception:  # missing field / unreadable footer: let Spark decide
        return False
    return pa.types.is_timestamp(t) and t.unit == "ns"


def _scan(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    """(schema, pre-split copy or None, nanos) of table ``name``: the
    front ``table_scan``, built once per (application, dataset, table,
    defaultParallelism). The build is the one inference job of the
    table's footer plus, for an under-split table, the staged copy of
    ``_spread``. Events are staged from the raw read: a nanos ``ts``
    lands in the copy as plain int64, which ``_load_events`` already
    branches on."""
    n = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"

    def build():
        nanos = name == "events" and _ts_is_nanos(path)
        with _nanos_as_long(spark, nanos):
            raw = spark.read.parquet(path)
            split = None if name in BROADCAST_DIMS else _spread(raw, sf_dir, name, path, n)
        return raw.schema, split, nanos

    return front(spark, sf_dir, "table_scan", build, name, n)


def _read(spark: SparkSession, sf_dir: str, name: str, spread: bool) -> DataFrame:
    schema, split, nanos = _scan(spark, sf_dir, name)
    if spread and split is not None:
        return spark.read.schema(schema).parquet(split)
    with _nanos_as_long(spark, nanos):
        return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Table ``name`` of ``sf_dir``, read with its kept schema (no
    Spark job once the table's ``_scan`` front is warm). An
    under-split table is read from its pre-split copy (``_spread``),
    so its scan already runs on every core.

    ``spread=False`` reads the original file instead, for plans whose
    only map work is a cheap narrow projection (e.g. a digest) or
    whose inputs are dimension-sized. At real scale the table needs no
    copy, so the flag only affects under-split inputs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read(spark, sf_dir, name, spread)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a normalized, timezone-free time axis. The
    fixture's ``ts`` physical type has varied across testdata
    generations (parquet TIMESTAMP(NANOS) read as int64 via
    spark.sql.legacy.parquet.nanosAsLong; currently TIMESTAMP(MICROS),
    which Spark scans as TIMESTAMP_NTZ), so branch on the *scanned*
    dtype instead of assuming one. Every derivation is independent of
    the session timezone (the driver's session may not be UTC) and
    matches DuckDB's ``epoch_us(ts::TIMESTAMP)`` on the oracle side:

    - ``ts_ns``  int64 nanoseconds since epoch (exact: µs * 1000 when
                 the source is µs-precision)
    - ``ts_us``  int64 microseconds since epoch
    - ``ts_date`` DateType (tz-free calendar day of the naive value)
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = _read(spark, sf_dir, "events", spread=True)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # nanosAsLong path: ts is already int64 epoch nanos. Integer
        # division end-to-end — int64 nanos exceed double precision, so
        # float division would corrupt the low bits.
        return (
            df.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", F.expr("ts_ns div 1000"))
            .withColumn(
                "ts_date",
                F.date_from_unix_date(F.expr("ts_ns div 86400000000000").cast("int")),
            )
        )
    if isinstance(ts_type, T.TimestampNTZType):
        # Naive timestamp: epoch micros of the naive value on a fixed
        # UTC timeline, built from CALENDAR COMPONENTS (date, hour,
        # minute, second-with-fraction). Component extraction on NTZ
        # is pure calendar arithmetic; crucially, timestampdiff is
        # NOT — Spark coerces NTZ operands to session-zone instants,
        # and the epoch literal cancels the event's zone offset only
        # when both share the same UTC offset (breaks across DST, or
        # in any zone whose standard offset changed since 1970).
        ts_us = F.expr(
            "CAST(unix_date(CAST(ts AS DATE)) AS BIGINT) * 86400000000"
            " + CAST(extract(HOUR FROM ts) AS BIGINT) * 3600000000"
            " + CAST(extract(MINUTE FROM ts) AS BIGINT) * 60000000"
            " + CAST(extract(SECOND FROM ts) * 1000000 AS BIGINT)"
        )
    elif isinstance(ts_type, T.TimestampType):
        # Instant-semantics timestamp: unix_micros is tz-independent by
        # definition (the stored value is already an instant).
        ts_us = F.unix_micros(F.col("ts"))
    else:  # pragma: no cover - future fixture drift fails loudly
        raise TypeError(f"unsupported events.ts dtype: {ts_type}")
    return (
        df.withColumn("ts_us", ts_us)
        .withColumn("ts_ns", F.expr("ts_us * 1000"))
        .withColumn(
            "ts_date",
            F.date_from_unix_date(F.expr("ts_us div 86400000000").cast("int")),
        )
        .drop("ts")
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every table as a temp view (for the SQL-expressed plans)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)
