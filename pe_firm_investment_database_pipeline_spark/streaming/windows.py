"""Structured Streaming operators (SURVEY.md §2.9) over the events
table: tumbling / sliding / session windows, streaming dedup, and
watermark late-data finalization.

The reference's only streaming shape is the browser response callback
(seed_aic.py:104-156): unbounded source → filter → enrich → append.
The driver's events table is the extension surface. Each operator here
runs a REAL streaming query — file source → transformations →
``trigger(availableNow=True)`` → memory sink — then returns the
finished result as a batch DataFrame, so the driver can hash-compare
it against a DuckDB oracle:

- complete-mode window aggregates equal their batch twins exactly;
- append-mode with watermark emits only windows finalized by the
  terminal watermark (max event time − delay) — with a single input
  batch that cutoff depends only on the global max timestamp, so it
  too has an exact SQL oracle (the trailing windows are excluded).

All outputs are timezone-free (epoch-second longs, exact integer-cent
sums): window boundaries are computed on the epoch timeline, so a
non-UTC driver session hashes identically.

Scale notes: windowed aggregation state is keyed by (window, group) —
bounded by windows×groups, not rows; session windows shuffle once on
user_id and merge per key. ``complete`` mode is used here because the
input is finite; an unbounded production stream would use append +
watermark (shown by stream_late_append) so state is evicted — the
query shapes are identical.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.session_cache import app_dir, front, shared_copy
from ..registry import QuerySpec
from ..sources.tables import load_table

GAP_S = 1800  # session gap: 30 minutes
DAY_S = 86400
SLIDE_S = 43200
LATE_DELAY = "1 day"

_EVENT_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, event_type STRING, "
    "value_c BIGINT, ts TIMESTAMP"
)


def _prepare_input(spark: SparkSession, sf_dir: str) -> str:
    """Normalize events (ns→µs timestamps, exact value cents) into a
    parquet dir the file stream source can read — the "stream_input"
    feed, staged once per (host, dataset); the streaming operators
    share it.

    Staged as 4 files — the `_prepare_docs_input` discipline — so the
    micro-batch count is a FIXED property of the fixture: the
    foreachBatch entries (maxFilesPerTrigger=2) process exactly 2
    batches, exercising the multi-batch merge path, instead of
    inheriting the events scan's 32-task spread (which made them run
    16 micro-batches — 16 state read+rewrite cycles per invocation —
    purely as an artifact of load_table's pre-split copy; the
    fixpoint itself is batch-boundary-independent by design)."""

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_c"),
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
        )
        ev.repartition(4).write.mode("overwrite").parquet(path)

    return _staged_feed(spark, sf_dir, "stream_input", write)


# The three entries below persist checkpoint + state/sink dirs per
# (application, sf_dir), so a re-invocation inside one session takes
# the RESTART-RECOVERY path: the availableNow trigger finds no new
# files, zero batches run, and the result is read back from the
# on-disk state. That is correct streaming semantics — but it means
# a warm benchmark repeat times recovery, not feed processing. The
# r12 verdict's result-front accounting rule applies: the bench
# drops these dirs before each timed run so every recorded run
# re-processes the staged feed end to end (the feed STAGING itself —
# _prepare_input / _prepare_docs_input — stays a front: it is input
# fixturing, the analogue of the parquet dataset, not query work).
# Values are app_dir prefixes.
_STREAM_STATE_DIRS = {
    "stream_dedup_lsh": ("stream_lshdedup", "stream_lshdedup_ck"),
    "stream_upsert_foreachbatch": ("upsert", "upsert_ck"),
    "stream_cdc_changelog": ("cdc", "cdc_ck"),
}
# Every checkpointed dir derived from a staged feed: the three above
# plus snk_stream_parquet's exactly-once sink.
_FEED_DERIVED_DIRS = (
    "stream_sink",
    "stream_sink_ck",
    *(p for dirs in _STREAM_STATE_DIRS.values() for p in dirs),
)


def _drop_dirs(spark: SparkSession, sf_dir: str, prefixes) -> None:
    import shutil

    for p in prefixes:
        shutil.rmtree(app_dir(spark, sf_dir, p), ignore_errors=True)


def evict_stream_state(spark: SparkSession, sf_dir: str, entry: str) -> None:
    """Delete the persisted checkpoint/state/sink dirs of one
    checkpoint-recovering streaming entry (no-op for other names), so
    its next invocation processes the staged feed instead of
    recovering. Results are identical either way — recovery reads the
    fixpoint a fresh pass rewrites. The staged feeds stay."""
    _drop_dirs(spark, sf_dir, _STREAM_STATE_DIRS.get(entry, ()))


def _staged_feed(spark: SparkSession, sf_dir: str, prefix: str, write) -> str:
    """The "stream_feed" front ``prefix``: the host-shared copy
    ``shared_copy(sf_dir, prefix, write)``. A (re)build first drops
    every feed-derived checkpoint of this application and dataset dir:
    a checkpoint would take a restaged feed's files for new input on
    top of the old state."""

    def build() -> str:
        _drop_dirs(spark, sf_dir, _FEED_DERIVED_DIRS)
        return shared_copy(sf_dir, prefix, write)

    return front(spark, sf_dir, "stream_feed", build, prefix)


def _read_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(_EVENT_SCHEMA).parquet(path)


def _run(stream_df: DataFrame, mode: str, max_partitions: int = 32) -> DataFrame:
    """Execute to completion into a memory sink; return the result.

    Shuffle partitions are scoped down for the query's lifetime (and
    restored after): every stateful streaming operator creates one
    state store PER shuffle partition at query start, and a default
    200-partition session spends its wall time instantiating hundreds
    of near-empty stores for this finite input (a stream-stream join
    holds four stores per partition — 22 s at 200 partitions vs ~3 s
    at 32, same result). A production long-running stream sizes this
    to its state volume deliberately; 32 matches the test scale and
    the local core count. Stream-stream joins pass a smaller
    ``max_partitions``: at 4 stores per partition, 32 partitions is
    128 store instantiations for kilobytes of state (measured 5.8 s
    at 32, 2.2 s at 8, 1.8 s at 4 partitions, identical results)."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    scoped = (
        str(min(int(prev), max_partitions))
        if str(prev).isdigit()
        else str(max_partitions)
    )
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    spark.conf.set("spark.sql.shuffle.partitions", scoped)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


# ---------------------------------------------------------------------------
# stream_tumbling — fixed 1-day windows per event_type
# ---------------------------------------------------------------------------

def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_c").alias("sum_value_c"),
        )
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "n_events",
            (F.col("sum_value_c") / 100.0).alias("sum_value"),
        )
    )
    return _run(agg, "complete")


_STREAM_TUMBLING_SQL = f"""
SELECT (epoch_us(ts::TIMESTAMP) // {DAY_S * 1000000}) * {DAY_S} AS win_start_s,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# stream_sliding — 1-day windows sliding every 12h
# ---------------------------------------------------------------------------

def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    agg = (
        ev.groupBy(F.window("ts", "1 day", "12 hours"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            F.col("window.end").cast("long").alias("win_end_s"),
            "n_events",
        )
    )
    return _run(agg, "complete")


_STREAM_SLIDING_SQL = f"""
WITH e AS (
  SELECT epoch_us(ts::TIMESTAMP) // 1000000 AS ts_s FROM events
), expanded AS (
  SELECT ts_s, unnest([
           (ts_s // {SLIDE_S}) * {SLIDE_S},
           (ts_s // {SLIDE_S}) * {SLIDE_S} - {SLIDE_S}
         ]) AS win_start_s
  FROM e
)
SELECT win_start_s, win_start_s + {DAY_S} AS win_end_s, COUNT(*) AS n_events
FROM expanded
WHERE ts_s >= win_start_s AND ts_s < win_start_s + {DAY_S}
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stream_session — 30-minute-gap session windows per user
# ---------------------------------------------------------------------------

def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_c").alias("sum_value_c"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_start_s"),
            F.col("session_window.end").cast("long").alias("session_end_s"),
            "n_events",
            (F.col("sum_value_c") / 100.0).alias("session_value"),
        )
    )
    return _run(agg, "complete")


# gaps-and-islands twin: a new session starts when the gap from the
# previous event is >= GAP_S (Spark's session [start, last+gap) is
# half-open); session end = last event + gap.
_STREAM_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us,
         CAST(round(value*100) AS BIGINT) AS value_c
  FROM events
), flagged AS (
  SELECT user_id, us, value_c,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   >= {GAP_S}::BIGINT * 1000000
              OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
), sessioned AS (
  SELECT user_id, us, value_c,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(us) // 1000000 AS session_start_s,
       (MAX(us) + {GAP_S}::BIGINT * 1000000) // 1000000 AS session_end_s,
       COUNT(*) AS n_events,
       CAST(SUM(value_c) AS BIGINT) / 100.0 AS session_value
FROM sessioned
GROUP BY user_id, sid
"""


# ---------------------------------------------------------------------------
# stream_dedup — first-seen dedup on an unbounded stream
# ---------------------------------------------------------------------------

def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on the stream (the reference's seen-set dedup,
    seed_aic.py:311,336-338, unbounded form). Only the key columns are
    emitted — which physical row survives is arrival-order-dependent,
    the key set is not. Production note: with event-time bounds use
    dropDuplicatesWithinWatermark so state is evicted."""
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run(deduped, "append")


_STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


# ---------------------------------------------------------------------------
# stream_dedup_watermarked — bounded-state dedup (the 100 TB form)
# ---------------------------------------------------------------------------

def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type): the
    bounded-state form of the reference's seen-set dedup
    (seed_aic.py:311,336-338) that SURVEY §2.9 maps stream_dedup to.
    A key's dedup state is EVICTED once the event-time watermark
    passes first-seen + delay, so state size is O(keys per watermark
    horizon), not O(all keys ever) — the property that lets the
    operator run forever on an unbounded stream. A key recurring
    after eviction is re-emitted (exercised across micro-batches in
    tests/test_streaming.py::test_watermarked_dedup_state_eviction).
    Here the staged corpus replays as ONE availableNow micro-batch
    (watermark starts at -inf, nothing evicts mid-batch), so the
    emitted key set equals DISTINCT — giving this entry an exact SQL
    oracle while the eviction path is pinned by the unit test."""
    path = _prepare_input(spark, sf_dir)
    ev = spark.readStream.schema(_EVENT_SCHEMA).option(
        "maxFilesPerTrigger", 100000
    ).parquet(path)
    deduped = (
        ev.withWatermark("ts", LATE_DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run(deduped, "append")


_STREAM_DEDUP_WM_SQL = "SELECT DISTINCT user_id, event_type FROM events"


# ---------------------------------------------------------------------------
# stream_late_append — append mode + watermark finalization
# ---------------------------------------------------------------------------

def stream_late_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling aggregate with a 1-day watermark: only
    windows whose end <= terminal watermark (max event time − 1 day)
    are finalized and emitted; trailing windows stay in state. With a
    single availableNow batch the cutoff depends only on the global
    max timestamp — exactly reproducible in SQL. True mid-stream
    late-row drops are exercised in tests/test_streaming.py with a
    two-file source."""
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    agg = (
        ev.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "n_events",
        )
    )
    return _run(agg, "append")


_STREAM_LATE_APPEND_SQL = f"""
WITH cutoff AS (
  SELECT (max(epoch_us(ts::TIMESTAMP)) - {DAY_S * 1000000}::BIGINT) // 1000000
         AS wm_s
  FROM events
)
SELECT (epoch_us(ts::TIMESTAMP) // {DAY_S * 1000000}) * {DAY_S} AS win_start_s,
       event_type, COUNT(*) AS n_events
FROM events, cutoff
GROUP BY 1, 2, cutoff.wm_s
HAVING win_start_s + {DAY_S} <= cutoff.wm_s
"""


# ---------------------------------------------------------------------------
# stream_ingest_jsonl — the reference's JSONL log as an unbounded table
# ---------------------------------------------------------------------------

def stream_ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_ingest (§2.9): the engine's own JSONL appender feeds a
    streaming json source (the reference's response-log shape,
    seed_aic.py:146-155, replayed as an unbounded table), filtered and
    aggregated per type. Ingest → filter → enrich → aggregate, all on
    the stream."""
    from ..sources.sinks import append_jsonl

    def write(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts_us"
        )
        append_jsonl(ev, path, wrap_meta=False)

    path = _staged_feed(spark, sf_dir, "stream_jsonl", write)
    stream = spark.readStream.schema(
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT"
    ).json(path)
    # distinct aggregates are unsupported on streams — use min/max
    agg = (
        stream.where(F.col("event_type") != "error")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )
    return _run(agg, "complete")


_STREAM_INGEST_JSONL_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id
FROM events WHERE event_type != 'error'
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# stream_join_interval — watermarked stream-stream interval join
# ---------------------------------------------------------------------------

def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition:
    each view event joins the same user's purchase events landing in
    (view_ts, view_ts + 1 hour]. Both sides carry watermarks, which —
    together with the time-range predicate — lets Spark bound the join
    state: a buffered view can be evicted once the purchase-side
    watermark passes view_ts + 1 hour (the production property that
    makes stream-stream joins runnable forever). The driver input is
    finite and arrives as one availableNow batch, so state eviction
    never drops a match here and the result equals the batch interval
    join exactly — hash-checked against the DuckDB oracle."""
    path = _prepare_input(spark, sf_dir)
    views, buys = _interval_join_sides(spark, path)
    joined = views.join(buys, F.expr(_INTERVAL_COND), "inner").select(
        "user_id",
        "view_id",
        "buy_id",
        F.col("view_ts").cast("long").alias("view_ts_s"),
        F.col("buy_ts").cast("long").alias("buy_ts_s"),
    )
    return _run(joined, "append", max_partitions=4)


_STREAM_JOIN_INTERVAL_SQL = """
SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id,
       epoch_us(v.ts::TIMESTAMP) // 1000000 AS view_ts_s,
       epoch_us(b.ts::TIMESTAMP) // 1000000 AS buy_ts_s
FROM events v
JOIN events b
  ON v.user_id = b.user_id
 AND b.ts::TIMESTAMP > v.ts::TIMESTAMP
 AND b.ts::TIMESTAMP <= v.ts::TIMESTAMP + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND b.event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# snk_stream_parquet — exactly-once partitioned parquet file sink
# ---------------------------------------------------------------------------

def snk_stream_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FILE sink: purchases are projected and written to a
    date-partitioned parquet directory through a checkpointed
    writeStream — the exactly-once sink production pipelines land on
    (the checkpoint's file manifest makes re-runs idempotent: a second
    availableNow start with the same checkpoint processes nothing and
    the committed file set is unchanged). The finished directory is
    read back and aggregated per day so the entry has a compact exact
    oracle; the date partition column is also what a downstream batch
    reader prunes on."""
    in_path = _prepare_input(spark, sf_dir)
    out = app_dir(spark, sf_dir, "stream_sink")
    ck = app_dir(spark, sf_dir, "stream_sink_ck")
    ev = (
        _read_stream(spark, in_path)
        .where("event_type = 'purchase'")
        .select(
            "event_id",
            "user_id",
            "value_c",
            # epoch-day via unix_micros: tz-independent (a CAST(ts AS
            # DATE) would go through the session zone and shift the
            # partition boundary on a non-UTC driver)
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .partitionBy("day")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return (
        back.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.sum("value_c") / 100.0).alias("total_value"),
        )
        .select(F.col("day").cast("long").alias("day"), "n_purchases", "total_value")
    )


_SNK_STREAM_PARQUET_SQL = """
SELECT CAST(epoch_us(ts::TIMESTAMP) // 86400000000 AS BIGINT) AS day,
       COUNT(*) AS n_purchases,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stream_static_join — dimension enrichment of an unbounded stream
# ---------------------------------------------------------------------------

def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: every purchase event is enriched with the
    broadcast customer dimension, then aggregated per market segment —
    the most common production streaming shape (fact stream x slowly-
    changing dim). Unlike a stream-stream join this is STATELESS: no
    watermark, no join state store; the static side is re-resolvable
    per micro-batch (on a cluster, a broadcast that refreshes per
    batch — how dimension updates propagate). The per-segment windowed
    aggregate keys state by segment, bounded by dim cardinality."""
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path).where("event_type = 'purchase'")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("value_c").alias("sum_value_c"),
        )
        .select(
            "c_mktsegment",
            "n_purchases",
            (F.col("sum_value_c") / 100.0).alias("total_value"),
        )
    )
    return _run(agg, "complete")


_STREAM_STATIC_JOIN_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# stream_join_interval_outer — LEFT OUTER with watermark-driven nulls
# ---------------------------------------------------------------------------

def _interval_join_sides(spark: SparkSession, path: str):
    views = (
        _read_stream(spark, path)
        .where("event_type = 'view'")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        _read_stream(spark, path)
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    return views, buys


_INTERVAL_COND = (
    "user_id = buy_user AND buy_ts > view_ts "
    "AND buy_ts <= view_ts + INTERVAL 1 HOUR"
)


def stream_join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics the
    inner join cannot express: a view with NO purchase within the
    hour is emitted with nulls, but only once the watermark passes
    view_ts + 1 hour (before that a matching purchase could still
    arrive, so the row must stay buffered — the reference's fallback
    'no result' paths, main_portCo.py:86-111, as an unbounded
    stream). State stays bounded exactly as in the inner variant.

    Determinism of the driver gate: the input replays as one
    availableNow batch, then Spark's no-data final micro-batch
    advances the watermark to its terminal value
    wm = least(max view_ts, max buy_ts) − 1 h and flushes the expired
    unmatched views. The emitted null set is therefore exactly the
    batch-computable 'unmatched AND view_ts + 1 h < wm' — the SQL
    oracle below. Boundary semantics pinned EMPIRICALLY with aligned
    timestamps: Spark floors the watermark to whole MILLISECONDS and
    evicts strictly (a view whose expiry equals wm is NOT emitted),
    so the oracle compares in microseconds against the ms-floored
    cutoff — a seconds-granularity comparison would misclassify any
    unmatched view landing in the sub-second gap. Row-identical at
    sf0.001/sf0.01; across-batch emission *timing* is pinned by
    tests/test_streaming.py::test_outer_interval_join_nulls_after_watermark."""
    path = _prepare_input(spark, sf_dir)
    views, buys = _interval_join_sides(spark, path)
    joined = views.join(buys, F.expr(_INTERVAL_COND), "leftOuter").select(
        "user_id",
        "view_id",
        "buy_id",
        F.col("view_ts").cast("long").alias("view_ts_s"),
        F.col("buy_ts").cast("long").alias("buy_ts_s"),
    )
    return _run(joined, "append", max_partitions=4)


_STREAM_JOIN_INTERVAL_OUTER_SQL = """
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts::TIMESTAMP) AS view_us
  FROM events WHERE event_type = 'view'
), b AS (
  SELECT user_id AS buy_user, event_id AS buy_id, epoch_us(ts::TIMESTAMP) AS buy_us
  FROM events WHERE event_type = 'purchase'
), wm AS (
  -- Spark's event-time watermark is ms-floored: wm_us is exact
  SELECT (least((SELECT max(view_us) FROM v),
                (SELECT max(buy_us) FROM b)) // 1000 - 3600000) * 1000 AS wm_us
)
SELECT v.user_id, v.view_id, b.buy_id,
       v.view_us // 1000000 AS view_ts_s,
       b.buy_us // 1000000 AS buy_ts_s
FROM v JOIN b
  ON v.user_id = b.buy_user
 AND b.buy_us > v.view_us
 AND b.buy_us <= v.view_us + 3600000000
UNION ALL
SELECT v.user_id, v.view_id, NULL AS buy_id,
       v.view_us // 1000000 AS view_ts_s, NULL AS buy_ts_s
FROM v, wm
WHERE NOT EXISTS (
        SELECT 1 FROM b
        WHERE v.user_id = b.buy_user
          AND b.buy_us > v.view_us
          AND b.buy_us <= v.view_us + 3600000000)
  AND v.view_us + 3600000000 < wm.wm_us
"""


# ---------------------------------------------------------------------------
# stream_dedup_lsh — streaming near-dup check against the persisted index
# ---------------------------------------------------------------------------

def _prepare_docs_input(spark: SparkSession, sf_dir: str) -> str:
    """The 'new batch' documents (doc_id % 10 = 0 — the same slice
    `dedup_incremental_lsh` uses) staged as a multi-file parquet dir
    for the file stream source — the "stream_docs" feed, written once
    per (host, dataset); 4 files so availableNow +
    maxFilesPerTrigger genuinely exercises multiple micro-batches."""

    def write(path: str) -> None:
        (
            load_table(spark, sf_dir, "documents")
            .where("doc_id % 10 = 0")
            .select("doc_id", "text")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(path)
        )

    return _staged_feed(spark, sf_dir, "stream_docs", write)


def stream_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup admission control — the production composition
    of the streaming and incremental-dedup surfaces: new documents
    arrive as an unbounded stream, and each micro-batch is
    near-dup-checked against the PERSISTED bucketed MinHash band index
    of the standing corpus (the `dedup_incremental_lsh` index —
    shared; building it once serves both entries). foreachBatch is
    the right tool because the per-batch plan is a JOIN AGAINST A
    TABLE that Structured Streaming's stateful operators can't
    express (the index is not a stream and must not be buffered as
    join state): signatures are computed on the batch only
    (O(batch), never O(corpus)), the index side feeds the join from
    its buckets shuffle-free, and matched pairs land in a
    checkpointed exactly-once parquet sink. At 100 TB this is the
    ingest gate that decides per arriving shard what is already in
    the corpus; state lives in the bucketed table, not in stream
    memory — restart-safe by construction. Result equals the batch
    twin (same slice, same index), so it shares that entry's exact
    oracle."""
    from ..plans.textops import (
        _K,
        _lsh_index_table,
        _minhash_bands,
        _sigs_from_docs,
    )

    idx_name = _lsh_index_table(spark, sf_dir)
    in_path = _prepare_docs_input(spark, sf_dir)
    out = app_dir(spark, sf_dir, "stream_lshdedup")
    ck = app_dir(spark, sf_dir, "stream_lshdedup_ck")

    def _match_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        bands = _minhash_bands(_sigs_from_docs(batch)).select(
            "doc_id",
            "sig",
            F.concat_ws(":", F.col("band"), F.col("bkey")).alias("ikey"),
        )
        a = bands.alias("a")
        b = sess.table(idx_name).alias("b")
        pairs = (
            a.join(b, F.col("a.ikey") == F.col("b.ikey"))
            .select(
                F.col("a.doc_id").alias("doc_new"),
                F.col("b.doc_id").alias("doc_idx"),
                (
                    F.expr(
                        "aggregate(zip_with(a.sig, b.sig,"
                        " (x, y) -> IF(x = y, 1L, 0L)), 0L, (acc, v) -> acc + v)"
                    ).cast("double")
                    / float(_K)
                ).alias("est_jaccard"),
            )
            .distinct()  # in-batch: a pair can collide in several bands
        )
        # doc_new values are disjoint across micro-batches (each file
        # is read exactly once), so per-batch distinct is global.
        pairs.write.mode("append").parquet(out)

    q = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 2)
        .parquet(in_path)
        .writeStream.foreachBatch(_match_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out):  # all batches empty: sink never created
        return spark.createDataFrame(
            [], "doc_new BIGINT, doc_idx BIGINT, est_jaccard DOUBLE"
        )
    return spark.read.parquet(out)


def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-APPLY — fold an event stream into a keyed
    current-state table (newest record per user wins) with
    foreachBatch, the pattern every warehouse ingest runs as MERGE
    INTO: per micro-batch, reduce the batch to its per-key newest
    row (map-side argmax BEFORE touching state), merge with the
    standing state, and write the merged state to a VERSIONED path
    keyed by batch_id. Versioned-by-batch_id writes make the sink
    idempotent — a replayed batch after checkpoint recovery
    overwrites its own version instead of double-applying — which is
    exactly-once by the book. The merge is an associative per-key
    max(struct(ts, event_id, ...)), so batch arrival order cannot
    change the fixpoint; ties are impossible (event_id is unique).

    At 100 TB the state table is a bucketed/ACID table and the merge
    is a co-partitioned join on the key; the per-batch cost stays
    O(batch + touched-state), never O(history). The exact oracle is
    the batch argmax over the whole event table."""
    in_path = _prepare_input(spark, sf_dir)
    state_root = app_dir(spark, sf_dir, "upsert")
    ck = app_dir(spark, sf_dir, "upsert_ck")
    latest: dict[str, str | None] = {"path": None}

    def _newest(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts_us", "event_id", "event_type", "value_c")
                ).alias("b")
            )
            .select("user_id", "b.ts_us", "b.event_id", "b.event_type",
                    "b.value_c")
        )

    def _apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        delta = _newest(
            batch.select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                "event_type",
                "value_c",
            )
        )
        if latest["path"] is not None:
            delta = _newest(
                sess.read.parquet(latest["path"]).unionByName(delta)
            )
        version = os.path.join(state_root, f"v{batch_id}")
        delta.write.mode("overwrite").parquet(version)
        latest["path"] = version

    q = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_path)
        .writeStream.foreachBatch(_apply_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if latest["path"] is None:
        # re-invocation against an existing checkpoint: no new files,
        # zero batches ran — recover the newest on-disk version, the
        # same thing a restarted production job does
        versions = sorted(
            (d for d in os.listdir(state_root) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        ) if os.path.isdir(state_root) else []
        if not versions:
            return spark.createDataFrame(
                [],
                "user_id BIGINT, ts_us BIGINT, event_id BIGINT, "
                "event_type STRING, value_c BIGINT",
            )
        latest["path"] = os.path.join(state_root, versions[-1])
    return spark.read.parquet(latest["path"])


_STREAM_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts_us, event_id, event_type, value_c
FROM ranked WHERE rn = 1
"""


def stream_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY WITH DELETES — the full I/U/D changelog semantics on
    top of `stream_upsert_foreachbatch`'s upsert-only fold: 'error'
    events are DELETE tombstones for their user, everything else
    upserts. The invariant that makes this exactly-once under ANY
    micro-batch file ordering: tombstones are RETAINED in state (not
    dropped at merge time) — state keeps the per-user newest record
    including deletes, so an out-of-order older upsert can never
    resurrect a deleted key; the tombstone filter happens only at
    READ time. Merge is the same associative per-key
    max(struct(ts_us, event_id, ...)) argmax (ties impossible,
    event_id unique), writes are versioned-by-batch_id for
    idempotent replay. At 100 TB: bucketed state table,
    co-partitioned merge join, per-batch cost O(batch + touched
    keys). Oracle: per-user newest event where that newest is not a
    tombstone."""
    in_path = _prepare_input(spark, sf_dir)
    state_root = app_dir(spark, sf_dir, "cdc")
    ck = app_dir(spark, sf_dir, "cdc_ck")
    latest: dict[str, str | None] = {"path": None}

    def _newest(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct(
                        "ts_us", "event_id", "event_type", "value_c", "is_del"
                    )
                ).alias("b")
            )
            .select(
                "user_id", "b.ts_us", "b.event_id", "b.event_type",
                "b.value_c", "b.is_del",
            )
        )

    def _apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        delta = _newest(
            batch.select(
                "user_id",
                F.unix_micros("ts").alias("ts_us"),
                "event_id",
                "event_type",
                "value_c",
                (F.col("event_type") == "error").cast("long").alias("is_del"),
            )
        )
        if latest["path"] is not None:
            delta = _newest(
                sess.read.parquet(latest["path"]).unionByName(delta)
            )
        version = os.path.join(state_root, f"v{batch_id}")
        delta.write.mode("overwrite").parquet(version)
        latest["path"] = version

    q = (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_path)
        .writeStream.foreachBatch(_apply_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if latest["path"] is None:
        versions = sorted(
            (d for d in os.listdir(state_root) if d.startswith("v")),
            key=lambda d: int(d[1:]),
        ) if os.path.isdir(state_root) else []
        if not versions:
            return spark.createDataFrame(
                [],
                "user_id BIGINT, ts_us BIGINT, event_id BIGINT, "
                "event_type STRING, value_c BIGINT",
            )
        latest["path"] = os.path.join(state_root, versions[-1])
    return (
        spark.read.parquet(latest["path"])
        .where(F.col("is_del") == 0)
        .select("user_id", "ts_us", "event_id", "event_type", "value_c")
    )


_STREAM_CDC_CHANGELOG_SQL = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS value_c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts_us, event_id, event_type, value_c
FROM ranked WHERE rn = 1 AND event_type != 'error'
"""


def _stream_dedup_lsh_sql() -> str:
    """Shares the batch twin's exact oracle: streaming the new-batch
    slice through the index in micro-batches yields exactly the
    candidate-pair set the one-shot incremental join yields."""
    from ..plans.textops import _DEDUP_INCREMENTAL_LSH_SQL

    return _DEDUP_INCREMENTAL_LSH_SQL


_STREAM_DEDUP_LSH_SQL = _stream_dedup_lsh_sql()


# ---------------------------------------------------------------------------
# stream_ohlc_bars — deterministic first/last in a streaming aggregate
# ---------------------------------------------------------------------------

def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the live twin of plans/sessions.py
    ts_resample_ohlc: per (1-day window, event_type) open / high /
    low / close / volume, maintained incrementally. Open/close inside
    a STREAMING aggregate can't use a window rank (no row_number on
    unbounded input); min_by/max_by over a scalar event-time key is
    the declarative form whose state merges associatively across
    micro-batches — exactly how a production bar builder keeps state
    bounded by (windows x types). The ordering key packs
    (in-day offset µs, event_id) into one int64 — in-day offsets are
    < 8.64e10, so offset * 1e7 + event_id is collision-free and fits
    comfortably (at an event-id scale beyond 1e7 the key would widen
    to DECIMAL, same plan). Ties therefore break identically in the
    DuckDB oracle's arg_min/arg_max."""
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    day_us = DAY_S * 1_000_000
    key = F.expr(
        f"(unix_micros(ts) - (unix_micros(ts) div {day_us}) * {day_us})"
        " * 10000000 + event_id"
    )
    agg = (
        ev.withColumn("k", key)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.expr("min_by(value_c, k)").alias("open_cents"),
            F.max("value_c").alias("high_cents"),
            F.min("value_c").alias("low_cents"),
            F.expr("max_by(value_c, k)").alias("close_cents"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("value_c").alias("volume_cents"),
        )
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_ticks",
            "volume_cents",
        )
    )
    return _run(agg, "complete")


_STREAM_OHLC_BARS_SQL = f"""
WITH e AS (
  SELECT event_type, event_id,
         epoch_us(ts::TIMESTAMP) AS us,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
), keyed AS (
  SELECT event_type,
         (us // {DAY_S * 1000000}) * {DAY_S} AS win_start_s,
         (us - (us // {DAY_S * 1000000}) * {DAY_S * 1000000}) * 10000000
           + event_id AS k,
         c
  FROM e
)
SELECT win_start_s, event_type,
       arg_min(c, k) AS open_cents,
       MAX(c) AS high_cents,
       MIN(c) AS low_cents,
       arg_max(c, k) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(SUM(c) AS BIGINT) AS volume_cents
FROM keyed GROUP BY win_start_s, event_type
"""


# ---------------------------------------------------------------------------
# stream_distinct_users — exact streaming distinct per window
# ---------------------------------------------------------------------------

def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-day DISTINCT USERS on the stream — the streaming DAU
    counter, built the only way exact streaming distinct composes:
    dropDuplicates on (day, user) FIRST (state = one row per active
    user-day — the compressed grid, not the event stream), then an
    ordinary streaming count over the deduplicated rows. A naive
    countDistinct inside a streaming agg is unsupported; approx
    sketches lose exactness — this two-stage shape is the production
    answer and it keeps state bounded by the true user-day
    cardinality. Day derives tz-free from the epoch axis before the
    dedup so state keys are integers."""
    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    per_day = (
        ev.select(
            F.expr(f"CAST(unix_micros(ts) div {DAY_S * 1000000} AS BIGINT)")
            .alias("day_idx"),
            "user_id",
        )
        .dropDuplicates(["day_idx", "user_id"])
        .groupBy("day_idx")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
    )
    return _run(per_day, "complete")


_STREAM_DISTINCT_USERS_SQL = f"""
SELECT epoch_us(ts::TIMESTAMP) // {DAY_S * 1000000} AS day_idx,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# stream_topk_windowed — streaming agg table + top-k serving query
# ---------------------------------------------------------------------------

_TOPK_N = 3


def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day TOP-K event types by streaming count — the production
    two-tier shape for streaming leaderboards: ranking is not a
    streaming-supported operation (no window functions over an
    in-flight aggregate), so the STREAM maintains the (day, type)
    count table in the sink and the RANK is a serving-layer query
    over that materialized state. The streaming side is an ordinary
    watermark-free tumbling count (state = days x types); the batch
    side is one partition-local row_number over the tiny grid with a
    deterministic (count desc, type asc) tiebreak. At 100 TB only
    the grid ever leaves the stream."""
    from pyspark.sql import Window as W

    path = _prepare_input(spark, sf_dir)
    ev = _read_stream(spark, path)
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            "event_type",
            "n_events",
        )
    )
    table = _run(agg, "complete")
    w = W.partitionBy("win_start_s").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        table.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOPK_N)
        .select("win_start_s", "rank", "event_type", "n_events")
    )


_STREAM_TOPK_WINDOWED_SQL = f"""
WITH g AS (
  SELECT (epoch_us(ts::TIMESTAMP) // {DAY_S * 1000000}) * {DAY_S}
           AS win_start_s,
         event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY win_start_s
                               ORDER BY n_events DESC, event_type)
              AS rank
  FROM g
)
SELECT win_start_s, CAST(rank AS BIGINT) AS rank, event_type, n_events
FROM ranked WHERE rank <= {_TOPK_N}
"""


QUERIES = {
    "stream_topk_windowed": QuerySpec(
        stream_topk_windowed,
        _STREAM_TOPK_WINDOWED_SQL,
        ("streaming", "topk"),
    ),
    "stream_distinct_users": QuerySpec(
        stream_distinct_users,
        _STREAM_DISTINCT_USERS_SQL,
        ("streaming", "distinct"),
    ),
    "stream_ohlc_bars": QuerySpec(
        stream_ohlc_bars, _STREAM_OHLC_BARS_SQL, ("streaming", "window", "ohlc")
    ),
    "stream_ingest_jsonl": QuerySpec(
        stream_ingest_jsonl, _STREAM_INGEST_JSONL_SQL, ("streaming", "ingest")
    ),
    "stream_join_interval": QuerySpec(
        stream_join_interval, _STREAM_JOIN_INTERVAL_SQL, ("streaming", "join")
    ),
    "stream_join_interval_outer": QuerySpec(
        stream_join_interval_outer,
        _STREAM_JOIN_INTERVAL_OUTER_SQL,
        ("streaming", "join", "outer"),
    ),
    "stream_static_join": QuerySpec(
        stream_static_join, _STREAM_STATIC_JOIN_SQL, ("streaming", "join", "static")
    ),
    "snk_stream_parquet": QuerySpec(
        snk_stream_parquet, _SNK_STREAM_PARQUET_SQL, ("streaming", "sink")
    ),
    "stream_tumbling": QuerySpec(
        stream_tumbling, _STREAM_TUMBLING_SQL, ("streaming", "window")
    ),
    "stream_sliding": QuerySpec(
        stream_sliding, _STREAM_SLIDING_SQL, ("streaming", "window")
    ),
    "stream_session": QuerySpec(
        stream_session, _STREAM_SESSION_SQL, ("streaming", "session")
    ),
    "stream_dedup": QuerySpec(
        stream_dedup, _STREAM_DEDUP_SQL, ("streaming", "dedup")
    ),
    "stream_dedup_watermarked": QuerySpec(
        stream_dedup_watermarked, _STREAM_DEDUP_WM_SQL, ("streaming", "dedup")
    ),
    "stream_dedup_lsh": QuerySpec(
        stream_dedup_lsh, _STREAM_DEDUP_LSH_SQL, ("streaming", "dedup", "lsh")
    ),
    "stream_upsert_foreachbatch": QuerySpec(
        stream_upsert_foreachbatch,
        _STREAM_UPSERT_SQL,
        ("streaming", "cdc", "upsert"),
    ),
    "stream_late_append": QuerySpec(
        stream_late_append, _STREAM_LATE_APPEND_SQL, ("streaming", "watermark")
    ),
    "stream_cdc_changelog": QuerySpec(
        stream_cdc_changelog,
        _STREAM_CDC_CHANGELOG_SQL,
        ("streaming", "cdc", "delete"),
    ),
}
