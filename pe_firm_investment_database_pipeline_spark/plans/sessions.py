"""Batch sessionization + interval joins (SURVEY §2.5/§2.3 extension
surface): the batch twins of the streaming session window, and the
bin-bucketed form of the range join — the two patterns that replace
non-equi joins at 100 TB.

- win_sessionize_batch: gaps-and-islands with lag + running sum — one
  window pass, equals stream_session's output shape (the streaming op
  merges state; the batch op runs where history is already at rest).
- join_interval_bin: event-in-interval containment WITHOUT a
  BroadcastNestedLoopJoin: intervals are exploded into the fixed-width
  day bins they cover, events join their single bin (equi-join), and
  an exact containment filter removes bin-edge false positives. Join
  cost is O(events + intervals x bins-per-interval), not
  O(events x intervals).
- map_entry_ops: MapType column surface (map_from_entries /
  element_at / map_concat), emitted as sorted CSV so the value hash
  is entry-order-free.
- merge_scd2: the warehouse CDC shape — fold an event/change stream
  into a type-2 slowly-changing dimension (validity intervals,
  change suppression, is_current flag) with two window passes on the
  dimension key. The batch twin of a streaming MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.session_cache import front
from ..registry import QuerySpec
from ..sources.tables import load_table
from ..streaming.windows import GAP_S  # single source of truth for the gap


def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessions over the at-rest event table:
    lag() marks session starts, a running sum assigns session ids, one
    aggregate emits (start, end=last+gap, n). Exactly two shuffles
    (window + groupBy), both on user_id."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    w = W.partitionBy("user_id").orderBy("ts_us")
    new_s = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w)) >= GAP_S * 1_000_000, 1
    ).otherwise(0)
    marked = e.withColumn(
        "sid",
        F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return marked.groupBy("user_id", "sid").agg(
        F.expr("min(ts_us) div 1000000").alias("session_start_s"),
        F.expr(f"(max(ts_us) + {GAP_S * 1_000_000}) div 1000000").alias(
            "session_end_s"
        ),
        F.count(F.lit(1)).alias("n_events"),
    ).select("user_id", "session_start_s", "session_end_s", "n_events")


_WIN_SESSIONIZE_BATCH_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
), flagged AS (
  SELECT user_id, us,
         CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                   >= {GAP_S}::BIGINT * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM e
), sessioned AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(us) // 1000000 AS session_start_s,
       (MAX(us) + {GAP_S}::BIGINT * 1000000) // 1000000 AS session_end_s,
       COUNT(*) AS n_events
FROM sessioned GROUP BY user_id, sid
"""


def join_interval_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which promo interval contains each purchase event? Intervals
    (one 4-day window per region-week, synthesized deterministically)
    are exploded to the day bins they cover; each event equi-joins its
    own day bin; exact containment filters bin-edge rows. The
    BroadcastNestedLoopJoin a naive `BETWEEN` join would produce never
    appears — candidate pairs exist only inside shared bins."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", F.expr("ts_ns div 86400000000000").alias("day"))
    # deterministic promo calendar: one interval per (week w, slot k):
    # [start, start + 4 days), start = epoch-day 19720 + 7*w + k
    weeks = spark.range(0, 5).select(F.col("id").alias("w"))
    slots = spark.range(0, 2).select(F.col("id").alias("k"))
    intervals = (
        weeks.crossJoin(slots)
        .select(
            (F.lit(19720) + F.col("w") * 7 + F.col("k")).alias("start_day"),
            (F.lit(19720) + F.col("w") * 7 + F.col("k") + 4).alias("end_day"),
            (F.col("w") * 10 + F.col("k")).alias("promo_id"),
        )
    )
    binned = intervals.select(
        "promo_id",
        "start_day",
        "end_day",
        F.explode(F.expr("sequence(start_day, end_day - 1)")).alias("day"),
    )
    return (
        e.join(binned, "day")
        .where((F.col("day") >= F.col("start_day")) & (F.col("day") < F.col("end_day")))
        .select("event_id", "user_id", "promo_id", "day")
    )


_JOIN_INTERVAL_BIN_SQL = """
WITH e AS (
  SELECT event_id, user_id,
         epoch_us(ts::TIMESTAMP) * 1000 // 86400000000000 AS day
  FROM events WHERE event_type = 'purchase'
), intervals AS (
  SELECT 19720 + w * 7 + k AS start_day, 19720 + w * 7 + k + 4 AS end_day,
         w * 10 + k AS promo_id
  FROM (SELECT unnest(range(0, 5)) AS w), (SELECT unnest(range(0, 2)) AS k)
)
SELECT event_id, user_id, promo_id, day
FROM e JOIN intervals
  ON e.day >= intervals.start_day AND e.day < intervals.end_day
"""


def map_entry_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map from entries, merge a literal
    map, read with element_at; emitted as key-sorted CSV (map entry
    order is engine-specific, sorted text is not)."""
    n = load_table(spark, sf_dir, "nation")
    m = F.map_concat(
        F.map_from_entries(
            F.array(
                F.struct(F.lit("name").alias("k"), F.col("n_name").alias("v")),
                F.struct(
                    F.lit("region").alias("k"),
                    F.col("n_regionkey").cast("string").alias("v"),
                ),
            )
        ),
        F.create_map(F.lit("source"), F.lit("nation_table")),
    )
    entries_csv = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(m), lambda e: F.concat_ws("=", e.getField("key"), e.getField("value"))
            )
        ),
        ",",
    )
    return n.select(
        "n_nationkey",
        entries_csv.alias("props_csv"),
        F.element_at(m, "name").alias("name_value"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


_MAP_ENTRY_OPS_SQL = """
SELECT n_nationkey,
       array_to_string(list_sort([
         'name=' || n_name,
         'region=' || CAST(n_regionkey AS VARCHAR),
         'source=nation_table'
       ]), ',') AS props_csv,
       n_name AS name_value,
       CAST(3 AS BIGINT) AS n_keys
FROM nation
"""


# The SCD2 dimension front, staged per (application, dataset,
# subset): production consumers read the versioned dimension from
# disk, not by rebuilding the change-suppression windows per query —
# the staged-index policy components._lsh_pairs applies to the graph
# pair front. merge_scd2 (full event stream) and join_scd2_asof (the
# non-purchase update stream) stage their fronts under distinct
# subset keys; the eager localCheckpoint makes every consumer after
# the first start from a materialized, lineage-free local frame.
def _scd2_front(
    spark: SparkSession,
    sf_dir: str,
    subset: str,
    e: DataFrame,
    owner: str | None = None,
) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "scd2",
        lambda: _scd2_changes(e).localCheckpoint(eager=True),
        subset,
        owner=owner,
    )


def _scd2_changes(e: DataFrame) -> DataFrame:
    """(user_id, ts_us, event_id, state) -> the type-2 version rows:
    change-suppressed, versioned, with validity interval columns.
    Shared by the dimension-build entry (merge_scd2, over all events)
    and the point-in-time consumer (join_scd2_asof, over the
    dimension-event subset)."""
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    changed = (
        F.lag("state").over(w).isNull() | (F.col("state") != F.lag("state").over(w))
    )
    kept = e.withColumn("chg", changed).where(F.col("chg"))
    w2 = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        kept.withColumn("version", F.row_number().over(w2).cast("long"))
        .withColumn("valid_from_us", F.col("ts_us"))
        .withColumn("valid_to_us", F.lead("ts_us").over(w2))
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .select(
            "user_id", "version", "state", "valid_from_us", "valid_to_us",
            "is_current",
        )
    )


def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from a change stream: each
    user's event_type is treated as their tracked state; consecutive
    events with an unchanged state are SUPPRESSED (no new version),
    and each surviving change opens a validity interval
    [valid_from_us, valid_to_us) closed by the next change (NULL and
    is_current=true for the open head). The reference's pipelines
    rebuild enrichment tables from scratch per run
    (reference: main_portCo.py's full-refresh loop); this is the
    incremental-warehouse alternative: history at rest + two window
    passes, both on the SAME partition key (user_id), so Catalyst
    plans ONE exchange and both sorts/windows run co-partitioned.
    At 100 TB the change stream arrives date-partitioned and the
    windows stay key-local; the streaming twin is
    stream_custom_state (applyInPandasWithState).

    Determinism: event ties are broken by event_id (fixture ts_us may
    collide); versions are then a total order both engines agree on.
    """
    return _scd2_front(
        spark,
        sf_dir,
        "all",
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts_us", "event_id", F.col("event_type").alias("state")
        ),
        owner="merge_scd2",
    )


_MERGE_SCD2_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
         event_type AS state
  FROM events
), flagged AS (
  SELECT *,
         (lag(state) OVER w IS NULL OR state != lag(state) OVER w) AS chg
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), kept AS (
  SELECT * FROM flagged WHERE chg
)
SELECT user_id,
       CAST(row_number() OVER w2 AS BIGINT) AS version,
       state,
       ts_us AS valid_from_us,
       lead(ts_us) OVER w2 AS valid_to_us,
       lead(ts_us) OVER w2 IS NULL AS is_current
FROM kept
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) lookup against a type-2 dimension — the
    query shape `merge_scd2` exists to serve, in its realistic
    two-stream form: the DIMENSION is the user's activity state built
    from non-purchase events (the update stream), and each purchase
    (the fact stream) is joined to the dimension version valid AT ITS
    INSTANT (valid_from <= ts, greatest such valid_from). Expressed
    with the same union-trick as join_range_asof: dimension changes
    (kind 0) and probes (kind 1) interleave on one user_id window and
    a carry-forward last(ignorenulls) resolves each probe — one
    shuffle on the dimension key, no range-join blowup, the shape
    that scales to a 100 TB fact stream against a versioned
    dimension. A change at exactly the probe's timestamp sorts FIRST
    (kind 0 < 1) — inclusive validity, matching the SCD2 interval
    semantics. A purchase before the user's first dimension event
    resolves to NULL (no version existed yet) — identically on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    dim = _scd2_front(
        spark,
        sf_dir,
        "nonpurchase",
        ev.where(F.col("event_type") != "purchase").select(
            "user_id", "ts_us", "event_id", F.col("event_type").alias("state")
        ),
    ).select(
        "user_id",
        F.col("valid_from_us").alias("ts"),
        "state",
        "version",
    )
    probes = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts_us").alias("ts"), "event_id")
    )
    u = dim.select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        "state",
        "version",
        F.lit(None).cast("long").alias("event_id"),
    ).unionByName(
        probes.select(
            "user_id",
            "ts",
            F.lit(1).alias("kind"),
            F.lit(None).cast("string").alias("state"),
            F.lit(None).cast("long").alias("version"),
            "event_id",
        )
    )
    # total order both engines agree on: version tie-breaks changes,
    # event_id tie-breaks probes (each null on the other kind)
    u = u.withColumn("ord2", F.coalesce("version", "event_id"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "ord2")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        u.withColumn("state_asof", F.last("state", ignorenulls=True).over(w))
        .withColumn("version_asof", F.last("version", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("ts_us"),
            "state_asof",
            "version_asof",
        )
    )


# The oracle replays the same interleave-and-carry formulation (not
# DuckDB's native ASOF JOIN) so tie semantics are identical by
# construction on both engines.
_JOIN_SCD2_ASOF_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us, event_id,
         event_type AS state
  FROM events WHERE event_type != 'purchase'
), flagged AS (
  SELECT *,
         (lag(state) OVER w IS NULL OR state != lag(state) OVER w) AS chg
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), dim AS (
  SELECT user_id, ts_us AS ts, state,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS BIGINT) AS version
  FROM flagged WHERE chg
), u AS (
  SELECT user_id, ts, 0 AS kind, state, version,
         CAST(NULL AS BIGINT) AS event_id
  FROM dim
  UNION ALL
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts, 1 AS kind,
         CAST(NULL AS VARCHAR) AS state, CAST(NULL AS BIGINT) AS version,
         event_id
  FROM events WHERE event_type = 'purchase'
), carried AS (
  SELECT *,
         last_value(state IGNORE NULLS) OVER w2 AS state_asof,
         last_value(version IGNORE NULLS) OVER w2 AS version_asof
  FROM u
  WINDOW w2 AS (PARTITION BY user_id
                ORDER BY ts, kind, COALESCE(version, event_id)
                ROWS UNBOUNDED PRECEDING)
)
SELECT event_id AS purchase_id, user_id, ts AS ts_us, state_asof, version_asof
FROM carried WHERE kind = 1
"""


def ts_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization — the date-spine + forward-fill
    shape every metrics pipeline needs: each user's daily activity is
    densified to a complete day axis (their own min..max day,
    generated IN-ROW with sequence+explode — no calendar dim join,
    no driver loop) and the per-day spend carries forward across the
    gap days with last(ignorenulls).

    Exactness: spend is summed in integer cents; gap days carry
    n_events = 0 and ffill_cents = the previous observed day's sum.
    Scale shape: everything downstream keys on user_id, so the
    input is hash-partitioned on user_id up front and that
    partitioning satisfies the daily aggregate (user_id is a prefix
    of its key), the per-user spine aggregate, the spine-to-counts
    join, and the forward-fill window — the planner adds ZERO
    ENSURE_REQUIREMENTS exchanges (pinned in
    tests/test_plan_shapes.py; at 100 TB `daily` would additionally
    be persisted so the two consumer branches share one scan).
    Spine width is bounded by the observed day span; a 100 TB
    deployment bounds it the same way per partition-pruned time
    slice."""
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .repartition("user_id")
    )
    daily = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("day_cents"),
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id", F.explode(F.expr("sequence(d0, d1)")).alias("day")
        )
    )
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("day_cents", ignorenulls=True).over(w).alias("ffill_cents"),
        )
    )


_TS_GAPFILL_FFILL_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT user_id, day, COUNT(*) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS day_cents
  FROM e GROUP BY user_id, day
), spine AS (
  SELECT user_id, unnest(range(d0, d1 + 1)) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY user_id)
)
SELECT s.user_id, s.day,
       COALESCE(d.n_events, 0) AS n_events,
       last_value(d.day_cents IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS UNBOUNDED PRECEDING) AS ffill_cents
FROM spine s LEFT JOIN daily d USING (user_id, day)
"""


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join — the shape `join_interval_bin`
    (point-in-interval) doesn't cover: user sessions against a derived
    nightly maintenance window (02:00-03:00 UTC each day in the data's
    span), reporting the exact overlap seconds. Sub-quadratic the same
    way: each session explodes into the DAY bins it touches (sessions
    are minutes long, so almost always one bin), maintenance windows
    are keyed by day, and the join is a day equi-join + exact overlap
    predicate — never session x window all-pairs. At 100 TB the bin
    width tracks the p99 interval length, exactly as in
    join_interval_bin."""
    s = win_sessionize_batch(spark, sf_dir)
    days = (
        s.agg(
            F.expr("min(session_start_s) div 86400").alias("d0"),
            F.expr("max(session_end_s) div 86400").alias("d1"),
        )
        .select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
        .select(
            "day",
            F.expr("day * 86400 + 7200").alias("mw_start_s"),
            F.expr("day * 86400 + 10800").alias("mw_end_s"),
        )
    )
    binned = s.select(
        "user_id",
        "session_start_s",
        "session_end_s",
        F.explode(
            F.expr(
                "sequence(session_start_s div 86400, session_end_s div 86400)"
            )
        ).alias("day"),
    )
    j = binned.join(F.broadcast(days), "day").where(
        (F.col("session_start_s") < F.col("mw_end_s"))
        & (F.col("mw_start_s") < F.col("session_end_s"))
    )
    return j.select(
        "user_id",
        "session_start_s",
        "day",
        (
            F.least("session_end_s", "mw_end_s")
            - F.greatest("session_start_s", "mw_start_s")
        ).alias("overlap_s"),
    )


_JOIN_INTERVAL_OVERLAP_SQL = f"""
WITH s AS MATERIALIZED (
{_WIN_SESSIONIZE_BATCH_SQL}
), bounds AS (
  SELECT MIN(session_start_s) // 86400 AS d0,
         MAX(session_end_s) // 86400 AS d1
  FROM s
), days AS (
  SELECT day, day * 86400 + 7200 AS mw_start_s,
         day * 86400 + 10800 AS mw_end_s
  FROM (SELECT unnest(range(d0, d1 + 1)) AS day FROM bounds)
), binned AS (
  SELECT user_id, session_start_s, session_end_s,
         unnest(range(session_start_s // 86400, session_end_s // 86400 + 1))
           AS day
  FROM s
)
SELECT b.user_id, b.session_start_s, b.day,
       CAST(least(b.session_end_s, d.mw_end_s)
            - greatest(b.session_start_s, d.mw_start_s) AS BIGINT)
         AS overlap_s
FROM binned b JOIN days d USING (day)
WHERE b.session_start_s < d.mw_end_s AND d.mw_start_s < b.session_end_s
"""


def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type TRANSITION MATRIX — the Markov-chain estimate
    behind next-action prediction and funnel diagnostics: for every
    consecutive same-user event pair, count (from_type, to_type),
    with the transition probability in exact integer permille of the
    from-state's outgoing total. One lag() window keyed on user_id
    (the sessionize partitioning, reused) plus one tiny aggregate —
    the output is |types|^2 rows regardless of corpus size, so the
    result always broadcasts back into whatever consumes it."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = W.partitionBy("from_type")
    return (
        pairs.withColumn("tot", F.sum("n").over(wf))
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("(n * 1000) div tot").alias("p_permille"),
        )
    )


_EVT_TRANSITION_MATRIX_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
  FROM events
), pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS from_type,
         event_type AS to_type
  FROM ev
), counted AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST(n * 1000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS p_permille
FROM counted
"""


_MKV_ITERS = 3
_MKV_BASE = 1_000_000


def evt_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain — the
    long-run attention share each event type commands, read directly
    off `evt_transition_matrix`'s permille chain by 3 fixed power
    iterations from the uniform vector: pi'(j) = sum_i pi(i) *
    p_ij div 1000, integer arithmetic end-to-end (the
    `graph_pagerank` discipline on a |types|^2 matrix). Truncation
    leaks a few ppm of mass per step; that leak is part of the
    DEFINED output, identical in both engines, and irrelevant to the
    ranking the number exists for. Scale shape: the event-sized work
    is the one lag-window pass that builds the transition counts
    (shared with the matrix entry); the matvec iterations run on a
    5x5 table — free at any corpus size."""
    p = evt_transition_matrix(spark, sf_dir).select(
        "from_type", "to_type", "p_permille"
    ).localCheckpoint(eager=True)
    states = p.select(F.col("from_type").alias("s")).distinct()
    n_states = states.count()
    pi = states.select(
        "s", F.lit(_MKV_BASE // n_states).cast("long").alias("pi")
    )
    for _ in range(_MKV_ITERS):
        pi = (
            p.join(pi, p.from_type == pi.s)
            .select(
                F.col("to_type").alias("s2"),
                F.expr("(pi * p_permille) div 1000").alias("c"),
            )
            .groupBy("s2")
            .agg(F.sum("c").alias("pi"))
            .select(F.col("s2").alias("s"), "pi")
        )
    return pi.select(
        F.col("s").alias("event_type"), F.col("pi").alias("pi_ppm")
    ).withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("pi_ppm").desc(), "event_type"))
        .cast("long"),
    )


def _markov_stationary_sql() -> str:
    iters = []
    prev = "pi0"
    for i in range(1, _MKV_ITERS + 1):
        iters.append(
            f"""pi{i} AS (
  SELECT p.to_type AS s,
         CAST(SUM((pi.pi * p.p_permille) // 1000) AS BIGINT) AS pi
  FROM p JOIN {prev} pi ON pi.s = p.from_type
  GROUP BY p.to_type
)"""
        )
        prev = f"pi{i}"
    chain = ", ".join(iters)
    return f"""
WITH p AS MATERIALIZED (
  {_EVT_TRANSITION_MATRIX_SQL}
), states AS (
  SELECT DISTINCT from_type AS s FROM p
), pi0 AS (
  SELECT s, CAST({_MKV_BASE} // (SELECT COUNT(*) FROM states) AS BIGINT)
           AS pi
  FROM states
), {chain}
SELECT s AS event_type, pi AS pi_ppm,
       CAST(row_number() OVER (ORDER BY pi DESC, s) AS BIGINT) AS rank
FROM {prev}
"""


def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the event stream to per-(type, day) OHLC bars —
    the financial-series resample shape (open/high/low/close/volume)
    that any metrics or market-data pipeline needs when the raw tick
    stream is too fine to store hot.

    Open/close need the FIRST/LAST value in event-time order, which a
    plain groupBy cannot express deterministically when timestamps
    tie; one window pass computes ascending and descending row
    numbers on (ts_us, event_id) — a total order — and the aggregate
    then reduces with max(when(rn=1)). The window partitioning
    (type, day) is a prefix of the groupBy key, so Catalyst reuses
    the exchange: ONE shuffle end-to-end. All outputs are int64
    cents/counts. At 100 TB bars are per (type, day) — bounded state,
    perfectly parallel, and the same plan rolls up to coarser bars by
    re-aggregating bars instead of rescanning ticks (open = open of
    min day, etc.)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts_us",
        F.expr("ts_us div 86400000000").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wa = W.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    wd = W.partitionBy("event_type", "day").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    marked = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    return marked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("close_cents"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("cents").alias("volume_cents"),
    )


_TS_RESAMPLE_OHLC_SQL = """
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), marked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY ts_us, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, day
                            ORDER BY ts_us DESC, event_id DESC) AS rn_d
  FROM e
)
SELECT event_type, day,
       MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
       MAX(cents) AS high_cents,
       MIN(cents) AS low_cents,
       MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       CAST(SUM(cents) AS BIGINT) AS volume_cents
FROM marked GROUP BY event_type, day
"""


def ts_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over the per-user daily spine —
    the companion to ts_gapfill_ffill for quantities where carrying
    the last value forward biases the series (sensor readings,
    balances): a gap day gets prev + (next - prev) * (d - d_prev)
    div (d_next - d_prev), all int64 (div truncation is identical in
    both engines, so the interpolated cents are bit-equal). Edge
    days fall back to the single available bound (leading gap →
    backfill, trailing gap → forward fill). Plan shape matches
    ts_gapfill_ffill — everything keys on user_id, the forward and
    backward ignore-nulls windows share the same sort — plus carrying
    the OBSERVATION DAY through the same windows so the slope
    denominator is available without a self-join."""
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .repartition("user_id")
    )
    daily = e.groupBy("user_id", "day").agg(F.sum("cents").alias("day_cents"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    )
    wb = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wf = W.partitionBy("user_id").orderBy("day").rowsBetween(
        W.currentRow, W.unboundedFollowing
    )
    obs_day = F.when(F.col("day_cents").isNotNull(), F.col("day"))
    j = (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("pv", F.last("day_cents", ignorenulls=True).over(wb))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(wb))
        .withColumn("nv", F.first("day_cents", ignorenulls=True).over(wf))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(wf))
    )
    interp = F.expr(
        "CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv "
        "WHEN nd = pd THEN pv "
        "ELSE pv + ((nv - pv) * (day - pd)) div (nd - pd) END"
    )
    return j.select(
        "user_id",
        "day",
        (F.col("day_cents").isNotNull()).alias("is_observed"),
        interp.alias("interp_cents"),
    )


_TS_GAPFILL_LINEAR_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), daily AS (
  SELECT user_id, day, CAST(SUM(cents) AS BIGINT) AS day_cents
  FROM e GROUP BY user_id, day
), spine AS (
  SELECT user_id, unnest(range(d0, d1 + 1)) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY user_id)
), j AS (
  SELECT s.user_id, s.day, d.day_cents,
         last_value(d.day_cents IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN d.day_cents IS NOT NULL THEN s.day END
                    IGNORE NULLS) OVER wb AS pd,
         first_value(d.day_cents IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN d.day_cents IS NOT NULL THEN s.day END
                     IGNORE NULLS) OVER wf AS nd
  FROM spine s LEFT JOIN daily d USING (user_id, day)
  WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS UNBOUNDED PRECEDING),
         wf AS (PARTITION BY s.user_id ORDER BY s.day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day, day_cents IS NOT NULL AS is_observed,
       CAST(CASE WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
                 WHEN nd = pd THEN pv
                 ELSE pv + ((nv - pv) * (day - pd)) // (nd - pd)
            END AS BIGINT) AS interp_cents
FROM j
"""


# ---------------------------------------------------------------------------
# join_spatial_grid — radius self-join via grid binning
# ---------------------------------------------------------------------------

_GRID_EXTENT = 1_000_000  # coordinate space: [0, 1e6)^2 integer units
_GRID_R = 5_000  # radius (and grid cell width)


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join — the geo twin of the interval-bin
    join: find all customer pairs within _GRID_R of each other on a
    synthetic integer coordinate plane (md5-derived x/y — the fixture
    ships no geo columns, the PATTERN is the point). The classic
    sub-quadratic shape: bin points into cells of width = radius, one
    side explodes into its 3x3 cell neighborhood (a 9-element in-row
    array — no row blowup beyond 9x on ONE side), the join is a pure
    cell equi-join, and an exact integer distance-squared predicate
    removes edge false positives. Cost is O(points x 9 x density per
    cell), never all-pairs; a<b keeps each unordered pair exactly
    once (a pair is generated only when b's own cell is in a's
    neighborhood — exactly one neighborhood cell matches). At 100 TB
    both sides bucket by cell and the join co-locates."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def coord(salt: str):
        return F.expr(
            f"CAST(conv(substring(md5(concat(CAST(c_custkey AS STRING),"
            f" '{salt}')), 1, 12), 16, 10) AS BIGINT) % {_GRID_EXTENT}"
        )

    pts = c.select(
        "c_custkey", coord("x").alias("x"), coord("y").alias("y")
    ).withColumn("cx", F.expr(f"x div {_GRID_R}")).withColumn(
        "cy", F.expr(f"y div {_GRID_R}")
    )
    left = pts.select(
        F.col("c_custkey").alias("a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx ->"
                " transform(sequence(-1, 1), dy ->"
                " struct(cx + dx AS ncx, cy + dy AS ncy))))"
            )
        ).alias("nc"),
    ).select("a", "ax", "ay", F.col("nc.ncx").alias("cx"), F.col("nc.ncy").alias("cy"))
    right = pts.select(
        F.col("c_custkey").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    d2 = F.expr("(ax - bx) * (ax - bx) + (ay - by) * (ay - by)")
    return (
        left.join(right, ["cx", "cy"])
        .where(F.col("a") < F.col("b"))
        .withColumn("dist2", d2)
        .where(F.col("dist2") <= _GRID_R * _GRID_R)
        .select("a", "b", "dist2")
    )


_JOIN_SPATIAL_GRID_SQL = f"""
WITH pts AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'x'), 1, 12))
              AS BIGINT) % {_GRID_EXTENT} AS x,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'y'), 1, 12))
              AS BIGINT) % {_GRID_EXTENT} AS y
  FROM customer
), binned AS (
  SELECT *, x // {_GRID_R} AS cx, y // {_GRID_R} AS cy FROM pts
), lhs AS (
  SELECT c_custkey AS a, x AS ax, y AS ay,
         cx + dx.d AS cx, cy + dy.d AS cy
  FROM binned,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
)
SELECT l.a, r.c_custkey AS b,
       CAST((l.ax - r.x) * (l.ax - r.x)
            + (l.ay - r.y) * (l.ay - r.y) AS BIGINT) AS dist2
FROM lhs l JOIN binned r ON l.cx = r.cx AND l.cy = r.cy
WHERE l.a < r.c_custkey
  AND (l.ax - r.x) * (l.ax - r.x) + (l.ay - r.y) * (l.ay - r.y)
      <= {_GRID_R * _GRID_R}
"""


def evt_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top conversion paths — the sequence-mining summary behind
    funnel design: each user session (30-min gap, the sessionize
    partitioning again) is collapsed into its ordered event-type path
    string, and the top-10 most frequent paths are reported with
    their session counts and purchase-conversion share (sessions
    containing a purchase) in exact permille. Path assembly is a
    per-session sort INSIDE an aggregate (collect_list over struct +
    array_sort + transform — no window needed beyond sessionization),
    so the big side sees the sessionize window plus ONE aggregate;
    the path-frequency table is tiny (paths are short strings) and
    the top-10 is TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_s = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w)) >= GAP_S * 1_000_000, 1
    ).otherwise(0)
    marked = e.withColumn(
        "sid",
        F.sum(new_s).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    paths = (
        marked.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts_us", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.max(
                (F.col("event_type") == F.lit("purchase")).cast("int")
            ).alias("converted"),
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    top = counted.orderBy(F.desc("n_sessions"), F.asc("path")).limit(10)
    return top.select(
        "path",
        "n_sessions",
        "n_converted",
        F.expr("(n_converted * 1000) div n_sessions").alias(
            "conversion_permille"
        ),
    )


_EVT_TOP_PATHS_SQL = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
  FROM events
), flagged AS (
  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w >= {GAP_S}::BIGINT * 1000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sessioned AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM sessioned GROUP BY user_id, sid
), counted AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(converted) AS BIGINT) AS n_converted
  FROM paths GROUP BY path
)
SELECT path, n_sessions, n_converted,
       CAST(n_converted * 1000 // n_sessions AS BIGINT)
         AS conversion_permille
FROM counted
ORDER BY n_sessions DESC, path
LIMIT 10
"""


# ---------------------------------------------------------------------------
# evt_peak_concurrency — interval-sweep maximum concurrent sessions
# ---------------------------------------------------------------------------

_CONC_TOP = 10


def evt_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY over the sessionized intervals — the capacity
    question (\"how many sessions were open at once, and when\") via
    the classic SWEEP: +1 at each session start, −1 at each
    (exclusive) end, running sum over the fully deterministic
    (time, delta, user_id) order — ends before starts at the same
    second, so back-to-back sessions never double-count. Emits the
    top-10 concurrency moments. The sweep's global order runs on
    session BOUNDARIES (2 rows per session — orders of magnitude
    under events); at 100 TB the same sweep partitions by day with
    per-day offsets carried forward, identical per-partition plan."""
    s = win_sessionize_batch(spark, sf_dir)
    deltas = s.select(
        F.col("session_start_s").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
    ).unionByName(
        s.select(
            F.col("session_end_s").alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
        )
    )
    w = W.orderBy("t", "delta", "user_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    swept = deltas.withColumn("concurrency", F.sum("delta").over(w))
    return (
        swept.where(F.col("delta") == 1)
        .select("t", "user_id", "concurrency")
        .orderBy(F.desc("concurrency"), F.asc("t"), F.asc("user_id"))
        .limit(_CONC_TOP)
    )


def _peak_concurrency_sql() -> str:
    return f"""
WITH s AS (
{_WIN_SESSIONIZE_BATCH_SQL}
), deltas AS (
  SELECT session_start_s AS t, 1 AS delta, user_id FROM s
  UNION ALL
  SELECT session_end_s, -1, user_id FROM s
), swept AS (
  SELECT t, delta, user_id,
         CAST(SUM(delta) OVER (ORDER BY t, delta, user_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS concurrency
  FROM deltas
)
SELECT t, user_id, concurrency
FROM swept WHERE delta = 1
ORDER BY concurrency DESC, t, user_id
LIMIT {_CONC_TOP}
"""


# ---------------------------------------------------------------------------
# join_bitemporal — two-axis (valid time x transaction time) reconstruction
# ---------------------------------------------------------------------------


def join_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL RECONSTRUCTION — 'what did the books for day D look
    like as of transaction time T': facts arrive as VERSIONS
    (logical key = event_id div 3, so consecutive event ids are
    corrections of one logical fact; transaction order = event_id;
    valid day + value = the version's own ts/value — a correction
    can MOVE a fact to a different valid day, which is what
    separates bitemporal from plain as-of). For each of three
    transaction-time snapshots (max_id thirds, derived from the
    data), the live version of every key is the event_id-argmax
    among versions <= T, and the report is per-(snapshot, valid day)
    live-fact count + value. This is SCD2-asof's missing second
    axis: `join_scd2_asof` freezes transaction time, this entry
    sweeps it. Scale shape: the snapshot dim is 3 broadcast rows,
    the (snapshot, key) argmax groupBy is THE shuffle (3x events,
    partial-aggregable via max_by), and the day rollup shuffles only
    the key grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("event_id div 3").alias("k"),
        F.expr("ts_us div 86400000000").alias("valid_day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
    )
    lim = ev.agg(F.max("event_id").alias("max_id"))
    snaps = (
        spark.range(1, 4)
        .withColumnRenamed("id", "snap")
        .crossJoin(F.broadcast(lim))
        .select("snap", F.expr("(max_id * snap) div 3").alias("t"))
    )
    live = (
        ev.crossJoin(F.broadcast(snaps))
        .where(F.col("event_id") <= F.col("t"))
        .groupBy("snap", "k")
        .agg(
            F.expr("max_by(valid_day, event_id)").alias("live_day"),
            F.expr("max_by(v, event_id)").alias("live_v"),
        )
    )
    return (
        live.groupBy("snap", "live_day")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum("live_v").alias("sum_v_c"),
        )
        .select(
            F.col("snap").cast("long").alias("snap"),
            F.col("live_day").alias("valid_day"),
            F.col("n_live").cast("long").alias("n_live"),
            F.col("sum_v_c").cast("long").alias("sum_v_c"),
        )
    )


_JOIN_BITEMPORAL_SQL = """
WITH ev AS (
  SELECT event_id, event_id // 3 AS k,
         epoch_us(ts::TIMESTAMP) // 86400000000 AS valid_day,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
), lim AS (SELECT MAX(event_id) AS max_id FROM ev),
snaps AS (
  SELECT snap, (max_id * snap) // 3 AS t
  FROM (SELECT UNNEST([1, 2, 3]) AS snap), lim
), live AS (
  SELECT snap, k,
         arg_max(valid_day, event_id) AS live_day,
         arg_max(v, event_id) AS live_v
  FROM ev CROSS JOIN snaps
  WHERE event_id <= t
  GROUP BY snap, k
)
SELECT CAST(snap AS BIGINT) AS snap,
       CAST(live_day AS BIGINT) AS valid_day,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(live_v) AS BIGINT) AS sum_v_c
FROM live GROUP BY snap, live_day
"""


# ---------------------------------------------------------------------------
# evt_path_entropy — next-action entropy per state (micro-bits)
# ---------------------------------------------------------------------------


def evt_path_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-ACTION ENTROPY per event type — how PREDICTABLE a user's
    next step is from each state (the behavioral-predictability score
    next to `evt_transition_matrix`'s raw probabilities; low entropy
    = funnel-like deterministic flow, high = browsing): H(state) =
    sum_j p_ij * -log2 p_ij over the outgoing transition
    distribution, in exact integer MICRO-BITS. -log2 p decomposes as
    log2(total) - log2(n) with each log2 computed by the shared
    bin()-length + mantissa-table machinery (`profile_psi_bits`
    discipline) — no libm anywhere. Scale shape: one lag() window on
    the user axis + the |types|^2 grid; entropy is grid expressions.
    Entropy is >= 0 by construction (log2u is weakly monotone and
    n <= total)."""
    from .quality import _log2u

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wf = W.partitionBy("from_type")
    terms = pairs.withColumn(
        "tot", F.sum("n").over(wf).cast("long")
    ).withColumn(
        "term_ub",
        F.expr(
            f"CAST(n * ({_log2u('tot')} - {_log2u('n')}) div tot AS BIGINT)"
        ),
    )
    return (
        terms.groupBy("from_type")
        .agg(
            F.max("tot").cast("long").alias("n_out"),
            F.count(F.lit(1)).cast("long").alias("n_next_types"),
            F.sum("term_ub").cast("long").alias("entropy_ubits"),
        )
        .orderBy("from_type")
    )


def _evt_path_entropy_sql() -> str:
    from .quality import _psi_sql  # noqa: F401  (machinery parity)
    from .textops import _LOG2U_DUCK

    def log2u(x: str) -> str:
        e = f"CAST(length(bin({x})) - 1 AS BIGINT)"
        m = f"(({x}) * 64) // (CAST(1 AS BIGINT) << ({e}))"
        return f"({e} * 1000000 + {_LOG2U_DUCK}[CAST({m} - 63 AS INT)])"

    return f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
  FROM events
), pr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS from_type,
         event_type AS to_type
  FROM ev
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pr WHERE from_type IS NOT NULL GROUP BY from_type, to_type
), terms AS (
  SELECT from_type, n,
         CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS tot
  FROM pairs
)
SELECT from_type,
       CAST(MAX(tot) AS BIGINT) AS n_out,
       CAST(COUNT(*) AS BIGINT) AS n_next_types,
       CAST(SUM(n * ({log2u("tot")} - {log2u("n")}) // tot)
            AS BIGINT) AS entropy_ubits
FROM terms
GROUP BY from_type
ORDER BY from_type
"""


# ---------------------------------------------------------------------------
# evt_markov_absorption — truncated Neumann absorption analysis
# ---------------------------------------------------------------------------

_ABSORB_STATE = "purchase"
_ABSORB_TERMS = 3  # N ~ I + Q + Q^2 + Q^3 (truncated Neumann series)


def evt_markov_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABSORPTION ANALYSIS of the event-type Markov chain — treat
    'purchase' as the absorbing state and ask, from each transient
    state: how likely is next-step absorption, and how many visits
    does the chain spend in transient states before converting? The
    fundamental matrix N = (I - Q)^-1 needs an inverse; at fixed
    precision the production shape is the TRUNCATED NEUMANN SERIES
    N ~ I + Q + Q^2 + Q^3 (documented truncation — each extra term
    adds one grid matmul), with Q in exact integer permille and each
    matmul element flooring ONCE after its 4-term dot product —
    bit-identical in both engines. Scale shape: one lag() window
    derives the pair counts; the count grid (<= |types|^2 structs)
    collects to ONE row and all three matmuls run as higher-order
    array expressions over it (the ml_bradley_terry fold discipline
    — a 16-row matmul join chain would pay job latency for
    grid-sized math). Output per transient state: outgoing total,
    1-step absorption permille, and expected transient visits x1000
    (the row sum of N)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    one = pairs.groupBy().agg(
        F.expr(
            "sort_array(collect_list(struct(from_type, to_type, n)))"
        ).alias("ps")
    )
    # transient state list: every from-state except the absorber
    one = one.withColumn(
        "sts",
        F.expr(
            "array_sort(array_distinct(filter(transform(ps,"
            f" p -> p.from_type), t -> t != '{_ABSORB_STATE}')))"
        ),
    ).withColumn("k", F.expr("size(sts)"))
    # helper exprs over the one-row frame
    cnt = (
        "aggregate(ps, 0L, (a, p) -> a +"
        " IF(p.from_type = {f} AND p.to_type = {t}, p.n, 0L))"
    )
    tot_f = "aggregate(ps, 0L, (a, p) -> a + IF(p.from_type = {f}, p.n, 0L))"
    one = one.withColumn(
        "q",
        F.expr(
            "transform(sequence(0, k * k - 1), c ->"
            " element_at(transform(array(struct("
            "   element_at(sts, CAST(c div k AS INT) + 1) AS f,"
            "   element_at(sts, CAST(c % k AS INT) + 1) AS t)), z ->"
            f" ({cnt.format(f='z.f', t='z.t')} * 1000)"
            f" div greatest({tot_f.format(f='z.f')}, 1L)), 1))"
        ),
    )

    def matmul(a: str, b: str) -> str:
        return (
            "transform(sequence(0, k * k - 1), c ->"
            " aggregate(sequence(0, k - 1), 0L, (acc, m) -> acc"
            f" + element_at({a}, CAST(c div k AS INT) * k + m + 1)"
            f" * element_at({b}, m * k + CAST(c % k AS INT) + 1))"
            " div 1000)"
        )

    one = one.withColumn("q2", F.expr(matmul("q", "q"))).withColumn(
        "q3", F.expr(matmul("q2", "q"))
    )
    one = one.withColumn(
        "nmat",
        F.expr(
            "transform(sequence(0, k * k - 1), c ->"
            " IF(c div k = c % k, 1000L, 0L) + element_at(q, CAST(c AS INT)"
            " + 1) + element_at(q2, CAST(c AS INT) + 1)"
            " + element_at(q3, CAST(c AS INT) + 1))"
        ),
    )
    rows = one.select(
        F.explode(
            F.expr(
                "transform(sequence(0, k - 1), i -> struct("
                " element_at(sts, CAST(i AS INT) + 1) AS from_type,"
                f" {tot_f.format(f='element_at(sts, CAST(i AS INT) + 1)')}"
                "   AS n_out,"
                f" ({cnt.format(f='element_at(sts, CAST(i AS INT) + 1)', t=repr(_ABSORB_STATE))}"
                "  * 1000) div greatest("
                f" {tot_f.format(f='element_at(sts, CAST(i AS INT) + 1)')},"
                " 1L) AS p_absorb_pml,"
                " aggregate(sequence(0, k - 1), 0L, (acc, j) -> acc"
                " + element_at(nmat, CAST(i AS INT) * k + j + 1))"
                "   AS visits_x1000))"
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.from_type").alias("from_type"),
        F.col("r.n_out").cast("long").alias("n_out"),
        F.col("r.p_absorb_pml").cast("long").alias("p_absorb_pml"),
        F.col("r.visits_x1000").cast("long").alias("visits_x1000"),
    ).orderBy("from_type")


def _evt_markov_absorption_sql() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
  FROM events
), pr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS from_type,
         event_type AS to_type
  FROM ev
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pr WHERE from_type IS NOT NULL GROUP BY from_type, to_type
), tots AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
  FROM pairs GROUP BY from_type
), sts AS (
  SELECT from_type AS s FROM tots WHERE from_type <> '{_ABSORB_STATE}'
), q AS (
  SELECT a.s AS i, b.s AS j,
         COALESCE((p.n * 1000) // GREATEST(t.tot, 1), 0) AS v
  FROM sts a
  CROSS JOIN sts b
  JOIN tots t ON t.from_type = a.s
  LEFT JOIN pairs p ON p.from_type = a.s AND p.to_type = b.s
), q2 AS (
  SELECT a.i, b.j, CAST(SUM(a.v * b.v) // 1000 AS BIGINT) AS v
  FROM q a JOIN q b ON a.j = b.i GROUP BY a.i, b.j
), q3 AS (
  SELECT a.i, b.j, CAST(SUM(a.v * b.v) // 1000 AS BIGINT) AS v
  FROM q2 a JOIN q b ON a.j = b.i GROUP BY a.i, b.j
), nmat AS (
  SELECT i, j, CAST(SUM(v) AS BIGINT) AS v FROM (
    SELECT s AS i, s AS j, CAST(1000 AS BIGINT) AS v FROM sts
    UNION ALL SELECT i, j, v FROM q
    UNION ALL SELECT i, j, v FROM q2
    UNION ALL SELECT i, j, v FROM q3)
  GROUP BY i, j
)
SELECT s.s AS from_type,
       CAST(t.tot AS BIGINT) AS n_out,
       CAST(COALESCE((p.n * 1000) // GREATEST(t.tot, 1), 0) AS BIGINT)
         AS p_absorb_pml,
       CAST((SELECT SUM(v) FROM nmat WHERE nmat.i = s.s) AS BIGINT)
         AS visits_x1000
FROM sts s
JOIN tots t ON t.from_type = s.s
LEFT JOIN pairs p ON p.from_type = s.s AND p.to_type = '{_ABSORB_STATE}'
ORDER BY from_type
"""


QUERIES = {
    "evt_path_entropy": QuerySpec(
        evt_path_entropy,
        _evt_path_entropy_sql(),
        ("events", "markov", "entropy", "predictability"),
    ),
    "evt_markov_absorption": QuerySpec(
        evt_markov_absorption,
        _evt_markov_absorption_sql(),
        ("events", "markov", "absorption", "neumann"),
    ),
    "evt_peak_concurrency": QuerySpec(
        evt_peak_concurrency,
        _peak_concurrency_sql(),
        ("events", "concurrency", "sweep"),
    ),
    "join_bitemporal": QuerySpec(
        join_bitemporal,
        _JOIN_BITEMPORAL_SQL,
        ("join", "bitemporal", "time-travel"),
    ),
    "evt_transition_matrix": QuerySpec(
        evt_transition_matrix,
        _EVT_TRANSITION_MATRIX_SQL,
        ("events", "window", "markov"),
    ),
    "evt_markov_stationary": QuerySpec(
        evt_markov_stationary,
        _markov_stationary_sql(),
        ("events", "markov", "stationary"),
    ),
    "join_interval_overlap": QuerySpec(
        join_interval_overlap, _JOIN_INTERVAL_OVERLAP_SQL, ("join", "interval")
    ),
    "ts_gapfill_ffill": QuerySpec(
        ts_gapfill_ffill, _TS_GAPFILL_FFILL_SQL, ("timeseries", "window")
    ),
    "win_sessionize_batch": QuerySpec(
        win_sessionize_batch, _WIN_SESSIONIZE_BATCH_SQL, ("window", "session")
    ),
    "join_interval_bin": QuerySpec(
        join_interval_bin, _JOIN_INTERVAL_BIN_SQL, ("join", "range")
    ),
    "map_entry_ops": QuerySpec(map_entry_ops, _MAP_ENTRY_OPS_SQL, ("map",)),
    "merge_scd2": QuerySpec(merge_scd2, _MERGE_SCD2_SQL, ("cdc", "window")),
    "join_scd2_asof": QuerySpec(
        join_scd2_asof, _JOIN_SCD2_ASOF_SQL, ("cdc", "join", "asof")
    ),
    "ts_resample_ohlc": QuerySpec(
        ts_resample_ohlc, _TS_RESAMPLE_OHLC_SQL, ("timeseries", "resample")
    ),
    "ts_gapfill_linear": QuerySpec(
        ts_gapfill_linear, _TS_GAPFILL_LINEAR_SQL, ("timeseries", "window")
    ),
    "evt_top_paths": QuerySpec(
        evt_top_paths, _EVT_TOP_PATHS_SQL, ("events", "sequence")
    ),
    "join_spatial_grid": QuerySpec(
        join_spatial_grid, _JOIN_SPATIAL_GRID_SQL, ("join", "spatial", "grid")
    ),
}
