"""Core relational operator plans (SURVEY.md §2.1-§2.8) on the star schema.

Every query here is expressed declaratively with the DataFrame API so
Catalyst gets full freedom: filter/projection pushdown into the
parquet scan, broadcast-vs-shuffle join selection (we hint
``F.broadcast`` only for the fixed-cardinality dims), AQE partition
coalescing and skew splitting at runtime.

Cross-engine determinism rules (see functions/exact.py):
- money aggregates run in exact integer cents;
- every window/topk ordering carries a total-order tiebreak key;
- computed ints are int64 on both engines, computed floats are
  produced by identical-operand division;
- no raw timestamps in outputs (year()/month() ints instead).

Reference parity: each Op-ID cites the reference behavior it
re-expresses (file:line relative to /root/reference/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exact import cents, pct, qty_int
from ..registry import QuerySpec
from ..sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# revenue in exact cents*100 units: price_cents * (100 - discount_pct)
def _rev_c(price="l_extendedprice", disc="l_discount"):
    return cents(price) * (100 - pct(disc))


_REV_SQL = (
    "CAST(round(l_extendedprice*100) AS BIGINT)"
    " * (100 - CAST(round(l_discount*100) AS BIGINT))"
)


# ---------------------------------------------------------------------------
# Flagship (entry): explode-filter-dedup-project pattern of the reference
# seed pipeline (seed_aic.py:309-366) recast as revenue-by-nation.
# ---------------------------------------------------------------------------

def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation): filter, join,
    hash-agg, sort — the reference's acquire→filter→project dataflow
    (seed_aic.py:309-366) on the analytic schema. Joins on the fact
    side shuffle by key; nation (25 rows, fixed cardinality) is
    broadcast so the last join is shuffle-free."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # range predicate instead of year(): comparisons on the raw
    # timestamp_ntz column push down into the parquet scan
    # (PushedFilters), where year(l_shipdate) would not.
    return (
        li.where(
            (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1999-01-01")
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            (F.sum(_rev_c()) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"))
    )


_FLAGSHIP_SQL = f"""
SELECT n_name,
       CAST(SUM({_REV_SQL}) AS BIGINT) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE year(l_shipdate) BETWEEN 1995 AND 1998
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------

def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column projection (seed_aic.py:359-363 exports 2 of 7 cols).
    Catalyst prunes the parquet scan to exactly these columns."""
    return _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")


def flt_member_pe_au(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin + contains conjunctive filter — the PE+Australia member
    filter (seed_aic.py:336) on the customer table. Both predicates
    push down to the parquet scan."""
    c = _t(spark, sf_dir, "customer")
    return c.where(
        c.c_mktsegment.isin("BUILDING", "AUTOMOBILE") & c.c_name.contains("5")
    ).select("c_custkey", "c_name", "c_mktsegment")


def flt_year_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-range predicate (founded_year.py:83,91: 1800 <= y <= now)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
        )
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped hash aggregate with partial (map-side) combine —
    Spark does partial+final automatically. Money math in exact cents
    (at true 100 TB the cents sums move to decimal(38,0) to avoid
    int64 overflow; same plan shape)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_c = cents("l_extendedprice") * (100 - pct("l_discount"))
    charge_c = disc_c * (100 + pct("l_tax"))
    return (
        li.where(F.col("l_shipdate") < "2001-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_int("l_quantity")).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(disc_c) / 10000.0).alias("sum_disc_price"),
            (F.sum(charge_c) / 1000000.0).alias("sum_charge"),
            (
                F.sum(qty_int("l_quantity")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty"),
            (
                F.sum(pct("l_discount")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / 100.0
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_AGG_HASH_GROUPBY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
       CAST(SUM({_REV_SQL}) AS BIGINT) / 10000.0 AS sum_disc_price,
       CAST(SUM({_REV_SQL} * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) / 1000000.0 AS sum_charge,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE year(l_shipdate) <= 2000
GROUP BY l_returnflag, l_linestatus
"""


def agg_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen dedup (seed_aic.py:311,336-338 seen-set) made
    deterministic: per o_custkey keep the lowest o_orderkey row.
    Window + row_number shuffles once on the dedup key — at scale
    this is the same single shuffle a seen-set would need."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority")
    )


def agg_dedup_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-kept dedup (step3_attempt1.py:497-504: sort by -score then
    name, keep first) — per (nation, segment) keep the customer with
    the highest balance; tie-break on c_custkey for a total order."""
    c = _t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        F.desc(cents("c_acctbal")), F.asc("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_nationkey", "c_mktsegment", "c_custkey", "c_name", "c_acctbal")
    )


def agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per supplier (expand+dedup+count under the
    hood; two-phase with partial aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_items"),
    )


def agg_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the 100 TB-scale path for
    distincts. Oracle-ability (r7, the ``agg_hll_rollup`` pattern from
    VERDICT r6 missing #4): sketch estimates are engine-specific, so
    alongside the estimate's acceptance flag the entry emits the EXACT
    distinct count (same two-phase shuffle depth); ``est_ok`` is an
    int64 0/1 asserting the HLL++ estimate lands within 5% of exact
    (rsd=0.02, so 5% = 2.5 sigma — and Spark's sketch is deterministic
    for a fixed input set, making the flag stable). DuckDB mirrors the
    exact columns and emits the literal flag, giving the driver a full
    hash-checkable row instead of the r1 ``err: no_oracle``. Sketch
    accuracy is additionally asserted in
    tests/test_scale_blocking.py::test_approx_distinct_accuracy."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct_parts"),
        F.count(F.lit(1)).alias("n_items"),
        F.approx_count_distinct("l_partkey", 0.02).alias("est"),
    )
    # flag from the aliased aggregates (each computed exactly once)
    return g.select(
        "l_returnflag",
        "exact_distinct_parts",
        "n_items",
        (
            F.abs(F.col("est") - F.col("exact_distinct_parts")).cast("double")
            <= 0.05 * F.col("exact_distinct_parts").cast("double")
        )
        .cast("long")
        .alias("est_ok"),
    )


_AGG_DISTINCT_APPROX_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_distinct_parts,
       COUNT(*) AS n_items,
       CAST(1 AS BIGINT) AS est_ok
FROM lineitem
GROUP BY l_returnflag
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via mergeable bitmaps
    (Spark 3.5+ bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count) — the
    production shape for INCREMENTAL exact distincts: per-(group,
    day, bucket) bitmaps are compact partial states a 100 TB pipeline
    persists per ingest batch and MERGES with bitmap_or_agg, so a new
    day never re-expands history (unlike countDistinct) and the
    answer stays exact (unlike HLL). Demonstrated here with the
    per-day construct + cross-day or-merge; the result is exactly
    COUNT(DISTINCT), so the oracle is the plain exact SQL."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts_date").alias("day"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    per_day = ev.groupBy("event_type", "day", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_day.groupBy("event_type", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm"),
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_distinct_users"),
        F.sum("n_rows").cast("long").alias("n_events"),
    )


_AGG_BITMAP_DISTINCT_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) — multi-level aggregate in one pass
    (Catalyst Expand operator) instead of N scans."""
    c = _t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (F.sum(cents("c_acctbal")) / 100.0).alias("total_bal"),
        )
    )


def agg_collect_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-as-document (main_portCo.py:115-122: portcos nested under
    firm). Emitted as a sorted joined string so the value-hash is
    representation-stable across engines; the write-side nested JSON
    sink is exercised in tests (snk_json_nested)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias(
                "cust_names"
            ),
        )
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

def join_equi_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi-join orders ⋈ customer (shuffle/SMJ or broadcast per
    AQE stats) + aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(
            (F.sum(cents("o_totalprice")) / 100.0).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the small side (supplier+nation) so the
    600M-row fact side never shuffles — the 100 TB-safe shape for
    fact ⋈ dim (SURVEY §2.3 join_broadcast)."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            (F.sum(_rev_c()) / 10000.0).alias("supp_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (<=>): documents whose langid guess may be
    NULL (CJK/short docs fall outside the n-gram vote) joined to a
    derived per-lang profile INCLUDING the NULL group — `=` would
    silently drop every unclassified document, `eqNullSafe` keeps
    them as a first-class group. Still hash-joinable (NULL hashes as
    one key), so the plan is the same single shuffle as a plain
    equi-join — important because the 'unknown' bucket is often the
    LARGEST at ingest time."""
    d = load_table(spark, sf_dir, "documents")
    guessed = d.select(
        "doc_id",
        F.when(F.col("lang") != "zh", F.col("lang")).alias("lang_guess"),
    )
    profile = (
        guessed.groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_in_lang"))
        .select(F.col("lang_guess").alias("p_lang"), "n_in_lang")
    )
    return (
        guessed.join(profile, F.col("lang_guess").eqNullSafe(F.col("p_lang")))
        .select("doc_id", "lang_guess", "n_in_lang")
    )


_JOIN_NULL_SAFE_SQL = """
WITH guessed AS (
  SELECT doc_id, CASE WHEN lang != 'zh' THEN lang END AS lang_guess
  FROM documents
), profile AS (
  SELECT lang_guess, COUNT(*) AS n_in_lang FROM guessed GROUP BY lang_guess
)
SELECT g.doc_id, g.lang_guess, p.n_in_lang
FROM guessed g JOIN profile p ON g.lang_guess IS NOT DISTINCT FROM p.lang_guess
"""


def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi — customers with >=1 urgent order. Semi join
    never duplicates or widens rows (vs inner+distinct)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left_anti (step3_attempt1.py:373-378 excludes the
    firm itself from its entity set) — customers with no URGENT order
    (non-empty at every sf, unlike 'no orders at all')."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def join_nested_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (BroadcastNestedLoopJoin): unordered region pairs."""
    r1 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k1"), F.col("r_name").alias("name1")
    )
    r2 = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("name2")
    )
    return r1.crossJoin(r2).where(F.col("k1") < F.col("k2")).select(
        "name1", "name2"
    )


def join_range_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent strictly
    prior view by the same user. Expressed as one window pass over the
    interleaved event stream (union trick) — a single shuffle on
    user_id, no range-join blowup; this is the scalable as-of shape
    (events sorted within partition, last(ignorenulls) carry-forward).
    Ordering key is (epoch_micros, event_id): ns timestamps are
    truncated to micros so both engines order identically."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select("event_id", "user_id", "event_type", "ts_us")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prior_view = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prior_view_id", prior_view)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"), "user_id", "prior_view_id"
        )
    )


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'):
    each purchase pairs with the closest same-user view in EITHER
    time direction — the variant the backward-only window trick
    (join_range_asof) cannot express with one carry-forward. Both
    directional candidates come from the same interleaved single
    window pass (last prior view via carry-forward, first later view
    via the mirrored frame), then one row-local comparison picks the
    smaller |Δt|; ties break toward the PRIOR view (pandas
    semantics). Still exactly one shuffle on user_id — never a range
    join; |Δt| is exact int64 micros on both engines."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select("event_id", "user_id", "event_type", "ts_us")
    )
    wb = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    marked = (
        ev.withColumn("prior_id", F.last(view_id, ignorenulls=True).over(wb))
        .withColumn("prior_ts", F.last(view_ts, ignorenulls=True).over(wb))
        .withColumn("next_id", F.first(view_id, ignorenulls=True).over(wf))
        .withColumn("next_ts", F.first(view_ts, ignorenulls=True).over(wf))
        .where(F.col("event_type") == "purchase")
    )
    d_prior = F.col("ts_us") - F.col("prior_ts")
    d_next = F.col("next_ts") - F.col("ts_us")
    take_prior = F.col("prior_id").isNotNull() & (
        F.col("next_id").isNull() | (d_prior <= d_next)
    )
    return marked.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(take_prior, F.col("prior_id"))
        .otherwise(F.col("next_id"))
        .alias("nearest_view_id"),
        F.when(take_prior, d_prior).otherwise(d_next).alias("delta_us"),
    )


_JOIN_ASOF_NEAREST_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us
  FROM events WHERE event_type IN ('purchase', 'view')
), marked AS (
  SELECT *,
    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_id,
    last_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_ts,
    first_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id,
    first_value(CASE WHEN event_type = 'view' THEN ts_us END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
  FROM ev
)
SELECT event_id AS purchase_id, user_id,
       CASE WHEN prior_id IS NOT NULL
                 AND (next_id IS NULL OR ts_us - prior_ts <= next_ts - ts_us)
            THEN prior_id ELSE next_id END AS nearest_view_id,
       CASE WHEN prior_id IS NOT NULL
                 AND (next_id IS NULL OR ts_us - prior_ts <= next_ts - ts_us)
            THEN ts_us - prior_ts ELSE next_ts - ts_us END AS delta_us
FROM marked WHERE event_type = 'purchase'
"""


def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user over event time — the metric
    ("unique event types seen so far") whose naive form needs a
    set-valued accumulator no SQL window offers. The exact trick:
    distinct-so-far = running SUM of an is-first-occurrence flag,
    where the flag is row_number() = 1 over (user, event_type) —
    two window passes over the SAME (user_id)-keyed partitioning
    (the second refines the key in-partition), so the whole operator
    is one shuffle, exact, and engine-portable — no HLL needed until
    the per-key distinct cardinality itself explodes."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_us"
    )
    w_first = W.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = ev.withColumn(
        "is_first", (F.row_number().over(w_first) == 1).cast("long")
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_run).alias("distinct_types_so_far"),
    )


_WIN_RUNNING_DISTINCT_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us
  FROM events
), flagged AS (
  SELECT event_id, user_id, ts_us,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts_us, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM ev
)
SELECT event_id, user_id,
       CAST(SUM(is_first) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_types_so_far
FROM flagged
"""


def win_cumsum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL-RESET running total per user: spend accumulated
    since the last purchase, resetting AFTER each purchase — the
    'basket since last checkout' / 'errors since last deploy' shape
    no plain cumulative window expresses. The exact two-pass trick
    (same family as win_running_distinct): segment id = running count
    of purchases over rows STRICTLY BEFORE current (so the purchase
    row itself closes its own segment), then the running sum
    restarts by partitioning on (user, segment). Both passes share
    the one user_id-keyed shuffle — the second window only refines
    the key in-partition. Exact integer cents throughout."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts_us",
        cents("value").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("is_p"),
    )
    w_seg = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seg = ev.withColumn(
        "segment", F.coalesce(F.sum("is_p").over(w_seg), F.lit(0))
    )
    w_run = (
        W.partitionBy("user_id", "segment")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return seg.select(
        "event_id",
        "user_id",
        "segment",
        F.sum("v").over(w_run).alias("cents_since_reset"),
    )


_WIN_CUMSUM_RESET_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
), seg AS (
  SELECT event_id, user_id, ts_us, v,
         CAST(COALESCE(SUM(is_p) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS segment
  FROM ev
)
SELECT event_id, user_id, segment,
       CAST(SUM(v) OVER (PARTITION BY user_id, segment
                         ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cents_since_reset
FROM seg
"""


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------

def win_ranking_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over the tie-prone key (exact cents so tie
    structure is engine-identical); row_number/ntile over the
    tie-broken total order."""
    c = _t(spark, sf_dir, "customer")
    bal = cents("c_acctbal")
    w_ties = W.partitionBy("c_nationkey").orderBy(F.desc(bal))
    w_total = W.partitionBy("c_nationkey").orderBy(F.desc(bal), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w_ties).cast("long").alias("bal_rank"),
        F.dense_rank().over(w_ties).cast("long").alias("bal_dense_rank"),
        F.row_number().over(w_total).cast("long").alias("bal_row_number"),
        F.ntile(4).over(w_total).cast("long").alias("bal_quartile"),
    )


def sql_cte_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL-text surface: the same engine serves `spark.sql`
    users — tables registered as temp views, a CTE + window query
    authored as SQL text, planned by the SAME Catalyst pipeline as
    the DataFrame entries (identical pushdown/broadcast behavior;
    SQL text is an authoring surface, not a different engine). The
    query: top-3 customers by exact-cents order spend per market
    segment, a CTE chain ending in a ranking window."""
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        WITH spend AS (
          SELECT c_custkey, c_mktsegment,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
          FROM v_orders JOIN v_customer ON o_custkey = c_custkey
          GROUP BY c_custkey, c_mktsegment
        ), ranked AS (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY spend_c DESC, c_custkey) AS BIGINT) AS seg_rank
          FROM spend
        )
        SELECT c_mktsegment, seg_rank, c_custkey,
               CAST(spend_c AS DOUBLE) / 100.0 AS total_spend
        FROM ranked WHERE seg_rank <= 3
        """
    )


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4.0's `|>` operator chain) — the
    linear authoring surface for the same Catalyst plans: each stage
    (WHERE, EXTEND, AGGREGATE, SELECT, ORDER BY) pipes into the
    next, in execution order, instead of inside-out nesting. The
    entry proves the surface is semantics-identical to classic SQL
    (the oracle is the nested form): same pushdown, same exact-cents
    aggregation, same plan pipeline — pipes are parse-time sugar,
    not a different engine."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_ps")
    return spark.sql(
        """
        FROM v_lineitem_ps
        |> WHERE l_quantity >= 10
        |> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |> AGGREGATE COUNT(*) AS n_items, SUM(price_c) AS cents
           GROUP BY l_returnflag, l_linestatus
        |> EXTEND CAST(cents AS DOUBLE) / 100.0 AS revenue
        |> SELECT l_returnflag, l_linestatus, n_items, revenue
        """
    )


def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (Spark 3.4+/4 named-parameter binding) —
    the injection-safe query surface (`spark.sql(query,
    args={...})`): parameters bind as typed literals at parse time,
    so Catalyst constant-folds them and pushdown works exactly as
    with inline literals (a `:threshold` bound to 25 produces the
    same pushed filter as writing 25). The oracle inlines the same
    values — binding must be semantics-free."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_pq")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS total_c
        FROM v_lineitem_pq
        WHERE l_quantity >= :min_qty AND l_discount <= :max_disc
        GROUP BY l_returnflag
        """,
        args={"min_qty": 25, "max_disc": 0.05},
    )


_SQL_PARAMETERIZED_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS total_c
FROM lineitem
WHERE l_quantity >= 25 AND l_discount <= 0.05
GROUP BY l_returnflag
"""


def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SESSION VARIABLES (Spark 4 `DECLARE` / `SET VAR`) — the
    scripting surface for multi-statement workflows: a threshold
    declared once, set from a query result (the corpus median-ish
    floor-mean), then referenced by name in the report query. The
    entry proves variables resolve to plain literals at plan time
    (same pushdown story as parameter binding); the oracle computes
    the same two-step logic as a CTE — variables are ergonomics, not
    semantics."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_sv")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE pe_floor_c BIGINT DEFAULT 0"
    )
    spark.sql(
        """
        SET VAR pe_floor_c = (
          SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      div COUNT(*) AS BIGINT)
          FROM v_orders_sv
        )
        """
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS min_above_c
        FROM v_orders_sv
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > pe_floor_c
        GROUP BY o_orderpriority
        """
    )


_SQL_SESSION_VARIABLE_SQL = """
WITH floor_c AS (
  SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              // COUNT(*) AS BIGINT) AS f
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_above,
       CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS min_above_c
FROM orders, floor_c
WHERE CAST(round(o_totalprice * 100) AS BIGINT) > floor_c.f
GROUP BY o_orderpriority
"""


def meta_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`DataFrame.observe()` — pipeline observability WITHOUT a
    second scan: named aggregate metrics ride along the main action
    and surface through the Observation API, the mechanism a
    production job uses to emit row counts / sums to its metrics
    store for free. The entry materializes the observed metrics as a
    1-row DataFrame; the oracle computes the same aggregates
    directly — observe() must be a zero-semantics tap. (At 100 TB
    this is THE way to audit a write: the metrics come from the very
    pass that produced the output, no re-read, no TOCTOU drift.)"""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("pe_audit")
    tapped = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("o_totalprice")).alias("total_c"),
        F.max(cents("o_totalprice")).alias("max_c"),
    )
    # the action that carries the tap: a real aggregate consumer
    consumed = tapped.groupBy("o_orderstatus").count().collect()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["total_c"]),
                int(m["max_c"]),
                len(consumed),
            )
        ],
        "n_rows BIGINT, total_c BIGINT, max_c BIGINT, n_status BIGINT",
    )


_META_OBSERVE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_c,
       CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS max_c,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status
FROM orders
"""


def str_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING COLLATIONS (Spark 4's collation framework) — grouping
    under `UTF8_LCASE` groups case-insensitively INSIDE the engine
    (comparisons, joins, and aggregations all collation-aware, no
    manual lower() scattered through the query). The entry mixes the
    case of market segments in-plan, groups under the collation, and
    must reproduce the explicit-lower() oracle — proving the
    collation path is a first-class equality, not a display trick.
    The emitted key is canonicalized (lower) because only grouping
    SEMANTICS, not representative-choice, is the contract."""
    c = _t(spark, sf_dir, "customer").select(
        F.expr(
            "CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)"
            " ELSE c_mktsegment END"
        ).alias("seg_mixed"),
        cents("c_acctbal").alias("bal_c"),
    )
    return (
        c.select(
            F.expr("collate(seg_mixed, 'UTF8_LCASE')").alias("seg"),
            "bal_c",
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_c").alias("bal_sum_c"),
        )
        .select(
            F.lower(F.col("seg")).alias("segment"),
            F.col("n").cast("long").alias("n"),
            F.col("bal_sum_c").cast("long").alias("bal_sum_c"),
        )
    )


_STR_COLLATION_GROUP_SQL = """
SELECT lower(c_mktsegment) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS bal_sum_c
FROM customer
GROUP BY 1
"""


def sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+) — a select item referring
    to an alias defined EARLIER IN THE SAME SELECT, the ergonomic
    fix for staircase subqueries: price_c feeds discounted_c feeds
    margin_c in one projection. The oracle expands the chain
    manually; Catalyst must resolve the laterals to the identical
    expression tree (pure parse-time rewriting, no extra Project in
    the physical plan)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_la")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(margin_c) AS BIGINT) AS margin_sum_c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM (
          SELECT l_returnflag,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                 price_c * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   AS discounted_c100,
                 discounted_c100 - price_c * 70 AS margin_c
          FROM v_lineitem_la
        )
        GROUP BY l_returnflag
        """
    )


_SQL_LATERAL_ALIAS_SQL = """
SELECT l_returnflag,
       CAST(SUM(
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
         - CAST(round(l_extendedprice * 100) AS BIGINT) * 70
       ) AS BIGINT) AS margin_sum_c,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() CLAUSE (Spark 3.4+) — injection-safe DYNAMIC
    table/column names: the table to read and the column to
    aggregate arrive as parameters, bound through IDENTIFIER() so
    they parse as identifiers (never as SQL text — a name like
    `orders; DROP TABLE` is a resolution error, not an injection).
    The templated-pipeline primitive: one parameterized statement
    serves every (table, column) audit combination. Oracle inlines
    the resolved names."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_idf")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp_col) AS grp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp_col)
        """,
        args={"tbl": "v_orders_idf", "grp_col": "o_orderstatus"},
    )


_SQL_IDENTIFIER_SQL = """
SELECT o_orderstatus AS grp, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
"""


def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_* ARITHMETIC — the ANSI-mode-safe arithmetic family
    (`try_divide`, `try_add`, `try_multiply`): errors become NULL
    instead of failing the job, the contract batch pipelines need
    when one poisoned row must not kill a 100 TB write. The entry
    builds a division that hits zero denominators in-plan (order
    count minus itself for one priority class) and a multiply pushed
    to int64 limits; the oracle reproduces the NULL semantics with
    explicit CASE guards — try_* must equal guarded arithmetic
    exactly, never silently wrap."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_try")
    return spark.sql(
        """
        SELECT o_orderpriority,
               try_divide(
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE),
                 CAST(COUNT(*) AS BIGINT)
                   - CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                                   THEN 1 ELSE 0 END) AS BIGINT)
               ) AS mean_non_urgent_c,
               try_multiply(
                 CAST(COUNT(*) AS BIGINT),
                 shiftleft(CAST(1 AS BIGINT), 62)
               ) AS overflow_probe
        FROM v_orders_try
        GROUP BY o_orderpriority
        """
    )


_SQL_TRY_ARITHMETIC_SQL = """
WITH g AS (
  SELECT o_orderpriority,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_c,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_urgent
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority,
       CASE WHEN n - n_urgent = 0 THEN NULL
            ELSE CAST(total_c AS DOUBLE) / (n - n_urgent) END
         AS mean_non_urgent_c,
       CASE WHEN n >= 2 THEN NULL
            ELSE CAST(n * (CAST(1 AS BIGINT) << 62) AS BIGINT) END
         AS overflow_probe
FROM g
"""


def sql_null_semantics_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-VALUED-LOGIC CONFORMANCE MATRIX — the NULL corners that
    silently corrupt migrations: every 13th order's custkey is
    NULLed in-plan, the key list gets a NULL appended, and nine
    predicate forms are counted side by side — IN / NOT IN against
    the NULL-bearing list (NOT IN collapses to zero rows, THE
    classic production incident), NOT IN against the clean list,
    EXISTS / NOT EXISTS (which — unlike NOT IN — keep the NULL rows:
    the divergence that makes anti-join rewrites semantics-changing),
    self-equality vs null-safe self-equality (<=>), and count(col)
    vs count(*). The Spark side runs the NATIVE predicate forms; the
    oracle never uses IN/EXISTS at all — it reconstructs every count
    from first principles (LEFT-JOIN match counts + explicit 3VL
    case analysis), so agreement certifies the ENGINE's predicate
    semantics, not the SQL text.

    Scale shape: the nine probes MUST execute as nine native
    predicate plans (that is the conformance surface), but they do
    not need nine table scans — the NULLed 2-column orders
    projection and the key list are eagerly localCheckpointed once
    per call (small-slate rule; the first cut planned 14 parquet
    scans — orders x9, customer x5 — the registry's worst
    multi-referenced-frame outlier), so each probe replans from the
    materialized narrow frames and each base table is scanned
    exactly once."""
    (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.expr(
                "CASE WHEN o_orderkey % 13 = 0 THEN NULL"
                " ELSE o_custkey END"
            ).alias("ck"),
        )
        .localCheckpoint(eager=True)
        .createOrReplaceTempView("v_orders_nsm")
    )
    (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=True)
        .createOrReplaceTempView("v_cust_nsm")
    )
    return spark.sql(
        """
        WITH o AS (
          SELECT o_orderkey, ck FROM v_orders_nsm
        ), keys AS (
          SELECT k FROM v_cust_nsm
        ), aug AS (
          SELECT k FROM keys UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT 'in_aug' AS probe, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM o WHERE ck IN (SELECT k FROM aug)
        UNION ALL
        SELECT 'not_in_aug', CAST(COUNT(*) AS BIGINT)
        FROM o WHERE ck NOT IN (SELECT k FROM aug)
        UNION ALL
        SELECT 'not_in_clean', CAST(COUNT(*) AS BIGINT)
        FROM o WHERE ck NOT IN (SELECT k FROM keys)
        UNION ALL
        SELECT 'exists', CAST(COUNT(*) AS BIGINT)
        FROM o WHERE EXISTS (SELECT 1 FROM keys WHERE k = ck)
        UNION ALL
        SELECT 'not_exists', CAST(COUNT(*) AS BIGINT)
        FROM o WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = ck)
        UNION ALL
        SELECT 'eq_self', CAST(COUNT(*) AS BIGINT) FROM o WHERE ck = ck
        UNION ALL
        SELECT 'nullsafe_self', CAST(COUNT(*) AS BIGINT)
        FROM o WHERE ck <=> ck
        UNION ALL
        SELECT 'count_col', CAST(COUNT(ck) AS BIGINT) FROM o
        UNION ALL
        SELECT 'count_star', CAST(COUNT(*) AS BIGINT) FROM o
        """
    )


_SQL_NULL_MATRIX_SQL = """
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS ck
  FROM orders
), keys AS (
  SELECT c_custkey AS k FROM customer
), j AS (
  SELECT o.o_orderkey, o.ck, COUNT(k.k) AS m
  FROM o LEFT JOIN keys k ON o.ck = k.k
  GROUP BY o.o_orderkey, o.ck
), g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(SUM(CASE WHEN ck IS NOT NULL AND m > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_match,
         CAST(SUM(CASE WHEN ck IS NOT NULL AND m = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_nomatch,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM (
            SELECT k FROM keys UNION ALL SELECT NULL
          ) WHERE k IS NULL) AS aug_nulls
  FROM j
)
SELECT 'in_aug' AS probe, n_match AS cnt FROM g
UNION ALL
SELECT 'not_in_aug',
       CASE WHEN aug_nulls > 0 THEN CAST(0 AS BIGINT) ELSE n_nomatch END
FROM g
UNION ALL SELECT 'not_in_clean', n_nomatch FROM g
UNION ALL SELECT 'exists', n_match FROM g
UNION ALL SELECT 'not_exists', n_null + n_nomatch FROM g
UNION ALL SELECT 'eq_self', n_all - n_null FROM g
UNION ALL SELECT 'nullsafe_self', n_all FROM g
UNION ALL SELECT 'count_col', n_all - n_null FROM g
UNION ALL SELECT 'count_star', n_all FROM g
"""


def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+/4) — the analyst-ergonomics surface
    where every non-aggregate select item becomes a grouping key
    automatically. The entry proves it is parse-time sugar over the
    explicit form (the oracle is GROUP BY 1, 2): identical grouping
    keys, identical partial+final hash aggregate plan, identical
    exact-cents results — so adopting the terse surface costs
    nothing at any scale."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gba")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_c
        FROM v_orders_gba
        GROUP BY ALL
        """
    )


_SQL_GROUP_BY_ALL_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_c
FROM orders
GROUP BY 1, 2
"""


def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT clause (Spark 3.4+/4 native syntax) — wide-to-long
    reshaping INSIDE the SQL surface rather than via stack(): a
    per-priority wide metrics row (count / total cents / max cents)
    unpivots into (priority, metric, value) rows. The oracle is the
    explicit UNION ALL expansion, proving the clause is plan-level
    sugar: Spark compiles UNPIVOT to the same Expand node as
    stack(), one pass over the aggregate, no re-scan per metric —
    the property that matters when the wide row is a 100-column
    profile at 100 TB."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_up")
    return spark.sql(
        """
        SELECT o_orderpriority, metric, value
        FROM (
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS total_c,
                 CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS max_c
          FROM v_orders_up GROUP BY o_orderpriority
        ) UNPIVOT (value FOR metric IN (n_orders, total_c, max_c))
        """
    )


_SQL_UNPIVOT_SQL = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_c,
         CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS max_c
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderpriority, 'total_c', total_c FROM wide
UNION ALL
SELECT o_orderpriority, 'max_c', max_c FROM wide
"""


_SQL_PIPE_SYNTAX_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS DOUBLE) / 100.0 AS revenue
FROM lineitem
WHERE l_quantity >= 10
GROUP BY l_returnflag, l_linestatus
"""


def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCALAR UDF (Spark 4.0 `CREATE FUNCTION ... RETURN expr`) —
    user-defined logic that stays INSIDE Catalyst: the body is
    inlined into the plan at analysis time, so it participates in
    whole-stage codegen and constant folding like any built-in (no
    serialization boundary, unlike Python/pandas UDFs — the
    plan-level absence of any UDF eval node is pinned in
    tests/test_round7_ops.py). The function computes exact net cents
    (price − discount + tax, each independently cent-rounded); the
    oracle inlines the same expression."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_uf")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_cents(
            price DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(price * 100) AS BIGINT)
             - CAST(round(price * disc * 100) AS BIGINT)
             + CAST(round(price * tax * 100) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(net_cents(l_extendedprice, l_discount, l_tax))
                 AS net_cents_total
        FROM v_lineitem_uf
        GROUP BY l_returnflag
        """
    )


_SQL_UDF_SCALAR_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                - CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
                + CAST(round(l_extendedprice * l_tax * 100) AS BIGINT))
            AS BIGINT) AS net_cents_total
FROM lineitem
GROUP BY l_returnflag
"""


_SQL_CTE_WINDOWED_SQL = """
WITH spend AS (
  SELECT c_custkey, c_mktsegment,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_mktsegment
), ranked AS (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY c_mktsegment
           ORDER BY spend_c DESC, c_custkey) AS BIGINT) AS seg_rank
  FROM spend
)
SELECT c_mktsegment, seg_rank, c_custkey,
       CAST(spend_c AS DOUBLE) / 100.0 AS total_spend
FROM ranked WHERE seg_rank <= 3
"""


# Hierarchy derived in-plan from customer: parent(k) = k div 2 makes
# a binary tree rooted at custkey 1 — the account/BOM rollup shape —
# so both engines traverse an identical forest with no side fixture.
_SQL_RECURSIVE_TREE = """
WITH RECURSIVE tree(k, depth, root_balance_c) AS (
  SELECT k, 0, bal_c FROM {nodes} WHERE k = 1
  UNION ALL
  SELECT n.k, t.depth + 1, t.root_balance_c
  FROM {nodes} n JOIN tree t ON n.parent = t.k AND n.k > 1
)
SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_accounts,
       CAST(SUM(bal_c) AS BIGINT) AS level_balance_c,
       CAST(MIN(root_balance_c) AS BIGINT) AS root_balance_c
FROM tree JOIN {nodes} USING (k)
GROUP BY depth
"""


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE — the iterative-traversal surface as
    plain SQL text: an account hierarchy (parent = key div 2, a
    binary tree rooted at custkey 1, derived in-plan so both engines
    see the same forest) is walked top-down, carrying the root's
    balance to every descendant, then rolled up per depth with exact
    integer cents. The same traversal the DataFrame loop in
    components.py does by hand, here delegated to the engine's
    recursion operator (UnionLoop); depth is bounded by log2(max
    key), so the recursion is O(log N) rounds of an equi-join — the
    scale shape matches the pointer-jumping analysis there."""
    _t(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS k",
        "c_custkey div 2 AS parent",
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c",
    ).createOrReplaceTempView("v_acct_nodes")
    return spark.sql(_SQL_RECURSIVE_TREE.format(nodes="v_acct_nodes"))


_SQL_RECURSIVE_CTE_SQL = (
    "WITH RECURSIVE nodes AS (SELECT c_custkey AS k, c_custkey // 2 AS "
    "parent, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer)"
    + _SQL_RECURSIVE_TREE.format(nodes="nodes").replace(
        "WITH RECURSIVE", ",", 1
    )
)


# Q17-shaped correlated scalar subquery, made EXACT by integer
# cross-multiplication: "qty < 0.2 * avg(qty) over the part" becomes
# 5 * qty * count < sum — no division, no float, same truth value.
_SQL_CORRELATED = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_small_orders,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_c
FROM {li} l1
WHERE 5 * CAST(round(l_quantity) AS BIGINT)
        * (SELECT COUNT(*) FROM {li} l2
           WHERE l2.l_partkey = l1.l_partkey)
      < (SELECT CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
         FROM {li} l3 WHERE l3.l_partkey = l1.l_partkey)
"""


def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (the TPC-H Q17 shape: rows below
    a fifth of their part's average quantity) — the surface where the
    OPTIMIZER earns its keep: Catalyst decorrelates both per-part
    scalar subqueries into aggregate-then-join plans, so execution is
    hash aggregates + equi-joins keyed on l_partkey, never a
    per-row re-scan of lineitem (the O(N^2) naive semantics; plan
    pinned in tests/test_plan_shapes.py). The 0.2-average threshold
    is integer cross-multiplied (5*qty*count < sum) so both engines
    compare exact int64s."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(_SQL_CORRELATED.format(li="v_lineitem"))


_SQL_CORRELATED_SUBQUERY_SQL = _SQL_CORRELATED.format(li="lineitem")


def win_distribution_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank and cume_dist per
    nation over the exact-cents balance. Both are ratios of integers
    ((rank-1)/(n-1), rank/n) computed from the same tie structure on
    both engines, so the doubles are bit-identical. Completes the
    ranking-window surface next to win_ranking_fns' rank family."""
    c = _t(spark, sf_dir, "customer")
    bal = cents("c_acctbal")
    w = W.partitionBy("c_nationkey").orderBy(F.desc(bal))
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("bal_pct_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


_WIN_DISTRIBUTION_FNS_SQL = """
SELECT c_custkey, c_nationkey, c_acctbal,
       percent_rank() OVER w AS bal_pct_rank,
       cume_dist() OVER w AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey
             ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC)
"""


def win_analytic_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + running frame sum per customer order history."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate"),
        "o_orderkey",
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (
            F.sum(cents("o_totalprice")).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            / 100.0
        ).alias("running_spend"),
    )


def win_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax-per-group (step3_attempt1.py:404-412: best card per
    entity): highest-value order per customer."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc(cents("o_totalprice")), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_orderkey"),
            F.col("o_totalprice").alias("best_price"),
        )
    )


def limit_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group limit (founded_year.py:108,124: first 400 DOM nodes) —
    first 3 orders per customer by date, then aggregate."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.year("o_orderdate") * 10000 + F.month("o_orderdate") * 100
        + F.dayofmonth("o_orderdate"),
        "o_orderkey",
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_first_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("early_spend"),
        )
    )


def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic (§2.5 win_analytic_fns frame surface):
    per-customer trailing-30-day order count/spend, the range frame
    keyed on epoch day so both engines bound it identically."""
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        day.alias("order_day"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        (F.sum(cents("o_totalprice")).over(w) / 100.0).alias("spend_30d"),
    )


_WIN_RANGE_FRAME_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS BIGINT) AS order_day,
       COUNT(*) OVER w AS n_orders_30d,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER w AS BIGINT) / 100.0 AS spend_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS BIGINT)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event value per user
    (decay 1/2, bounded 8-event memory) — the time-series smoothing
    window, in EXACT integer arithmetic: the trailing values are
    collected over a ROWS frame (deterministic frame order on
    (ts_us, event_id)), weighted by powers of two (element i of the
    s-row frame gets 2^i, newest highest), and the weighted sum stays
    int64 (cents * 2^7 max). ewma = num / (2^s - 1) is one double
    division of identical integers — bit-identical across engines,
    unlike a float-recursive EWMA whose accumulation order differs.
    One shuffle on user_id; the frame is O(8) per row at any scale.
    NULL values are filtered up front in BOTH twins: Spark's
    collect_list silently drops NULLs inside the frame while DuckDB's
    list() keeps them, so a NULL-free-by-construction frame is the
    only shape where the two engines agree on frame sizes."""
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts_us", cents("value").alias("v"))
        .where(F.col("v").isNotNull())
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-7, 0)
    )
    lst = F.collect_list("v").over(w)
    staged = ev.withColumn("lst", lst)
    num = F.expr(
        "aggregate(zip_with(lst, sequence(0, size(lst) - 1),"
        " (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i)),"
        " 0L, (acc, t) -> acc + t)"
    )
    den = F.expr("shiftleft(CAST(1 AS BIGINT), size(lst)) - 1")
    return staged.select(
        "event_id",
        "user_id",
        (F.col("v") / 100.0).alias("value"),
        F.size("lst").cast("long").alias("n_window"),
        (num.cast("double") / den.cast("double") / 100.0).alias("ewma_usd"),
    )


_WIN_EWMA_SQL = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL
), staged AS (
  SELECT event_id, user_id, v,
         list(v) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS lst
  FROM ev
)
SELECT event_id, user_id, v / 100.0 AS value,
       CAST(len(lst) AS BIGINT) AS n_window,
       CAST(list_sum(list_transform(range(1, len(lst) + 1),
              i -> lst[i] * (CAST(1 AS BIGINT) << (i - 1)))) AS DOUBLE)
         / CAST((CAST(1 AS BIGINT) << len(lst)) - 1 AS DOUBLE) / 100.0 AS ewma_usd
FROM staged
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (segment, priority) with grouping_id — all four
    grouping-set combinations in one Expand pass (§2.4
    agg_grouping_sets' full surface beyond ROLLUP)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority", "o_totalprice")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("total_spend"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


_AGG_CUBE_SQL = """
SELECT c_mktsegment, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_spend,
       CAST(GROUPING(c_mktsegment) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# §2.6 sorts / top-k
# ---------------------------------------------------------------------------

def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic top-k (sort_score_name semantics,
    step3_attempt1.py:499: sort by (-score, name)). TakeOrderedAndProject
    — no full sort materialization."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.orderBy(F.desc(cents("c_acctbal")), F.asc("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of key sets (founded_year.py:212-213 set algebra,
    relational form)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.where(c.c_mktsegment == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = o.where(o.o_orderpriority == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(urgent)


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) of key sets: customers minus those with a
    5-LOW order (non-empty at every sf)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "5-LOW")
    all_c = c.select(F.col("c_custkey").alias("custkey"))
    low = o.select(F.col("o_custkey").alias("custkey"))
    return all_c.subtract(low)


def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets (founded_year.py:211)."""
    c = _t(spark, sf_dir, "customer")
    machinery = c.where(c.c_mktsegment == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    rich = c.where(cents("c_acctbal") > 900000).select(
        F.col("c_custkey").alias("custkey")
    )
    return machinery.union(rich).distinct()


def set_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the MULTISET set operations the
    distinct-flavored entries (set_intersect / set_except) don't
    cover: multiplicities survive (a customer with three urgent and
    two building-segment orders intersects with multiplicity two).
    Spark's intersectAll/exceptAll plan as aggregate+generate
    (replicate-row counts), not a join explosion. Output is the
    aggregated shape (op, n_rows, n_distinct, key_checksum) so the
    multiplicity semantics are pinned without shipping every row."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    high = o.where(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )

    def summarize(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("op"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("custkey").alias("n_distinct"),
            F.sum(
                F.expr("(custkey * 2654435761) % 1000000007")
            ).alias("key_checksum"),
        )

    return summarize(urgent.intersectAll(high), "intersect_all").unionByName(
        summarize(urgent.exceptAll(high), "except_all")
    )


_SET_MULTISET_OPS_SQL = """
WITH urgent AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
), high AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
), ia AS (
  SELECT * FROM urgent INTERSECT ALL SELECT * FROM high
), ea AS (
  SELECT * FROM urgent EXCEPT ALL SELECT * FROM high
)
SELECT 'intersect_all' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_distinct,
       CAST(SUM((custkey * 2654435761) % 1000000007) AS BIGINT)
         AS key_checksum
FROM ia
UNION ALL
SELECT 'except_all', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT custkey) AS BIGINT),
       CAST(SUM((custkey * 2654435761) % 1000000007) AS BIGINT)
FROM ea
"""


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with per-row ORDER BY + LIMIT —
    the 'top-N related rows per outer row' SQL surface (Spark 4
    lateral join; Catalyst decorrelates the LIMIT into a ranked
    window under the hood, so the physical plan is the same
    shuffle-once top-k-per-group as limit_per_group, authored the way
    a SQL user writes it). Top-2 orders by exact cents per BUILDING
    customer."""
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.price_c, t.rnk
        FROM v_customer c JOIN LATERAL (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
                 CAST(row_number() OVER (
                   ORDER BY round(o_totalprice * 100) DESC, o_orderkey
                 ) AS BIGINT) AS rnk
          FROM v_orders WHERE o_custkey = c.c_custkey
          ORDER BY price_c DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


_SQL_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.price_c, t.rnk
FROM customer c JOIN LATERAL (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
         CAST(row_number() OVER (
           ORDER BY round(o_totalprice * 100) DESC, o_orderkey
         ) AS BIGINT) AS rnk
  FROM orders WHERE o_custkey = c.c_custkey
  ORDER BY price_c DESC, o_orderkey LIMIT 2
) t ON TRUE
WHERE c.c_mktsegment = 'BUILDING'
"""


def set_member_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isin membership filter (seed_aic.py:336 member-type set)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("event_type").isin("signup", "purchase"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# §2.8 scalar functions: dates, json, url, string norm
# ---------------------------------------------------------------------------

def date_trunc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing (date_now_stamp surface, seed_aic.py:147):
    monthly order revenue; y/m emitted as ints (no raw timestamps in
    the comparison surface)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(
            (F.sum(cents("o_totalprice")) / 100.0).alias("month_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction on the events.props string column
    (json_parse/json_get_nested, seed_aic.py:128-131 +
    founded_year.py:71-75). get_json_object runs JVM-side."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_k"
            ),
            F.max("k").alias("max_k"),
        )
    )


def json_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type: props is
    parsed ONCE into the binary variant encoding (parse_json), then
    fields come out via typed variant_get / try_variant_get paths —
    the schema-flexible column pattern that replaces per-query string
    re-parsing at 100 TB (parse once at ingest, store variant, every
    downstream read is a cheap typed access; get_json_object in
    `json_get` re-tokenizes the string per call). try_variant_get on
    a missing path yields NULL instead of failing — the tolerance
    knob. Output aggregates per event_type so the oracle is compact;
    missing-path counts prove the try_ semantics.

    Engine parity (r5 driver hash-fail, VERDICT 'What's wrong' #2):
    typed `variant_get(..., 'long')` and DuckDB's `CAST(json_extract
    ... AS BIGINT)` coerce non-integer / string-encoded JSON numbers
    differently (truncate-vs-round, null-vs-parse). Both twins now
    extract the field AS STRING and apply the same explicit rule —
    cast to int64 only when the string is a pure optionally-signed
    integer, else NULL — byte-identical on every JSON shape."""
    e = _t(spark, sf_dir, "events")
    def _int_or_null(extract_sql: str) -> Column:
        s = F.expr(extract_sql)
        return F.when(s.rlike(r"^-?[0-9]+$"), s).cast("long")

    k = _int_or_null("variant_get(parse_json(props), '$.k', 'string')")
    missing = _int_or_null(
        "try_variant_get(parse_json(props), '$.absent', 'string')"
    )
    return (
        e.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("m").alias("n_absent_hits"),
        )
    )


_JSON_VARIANT_OPS_SQL = """
WITH x AS (
  SELECT event_type,
         json_extract_string(props, '$.k') AS ks,
         json_extract_string(props, '$.absent') AS ms
  FROM events
), y AS (
  SELECT event_type,
         CASE WHEN regexp_matches(ks, '^-?[0-9]+$')
              THEN CAST(ks AS BIGINT) END AS k,
         CASE WHEN regexp_matches(ms, '^-?[0-9]+$')
              THEN CAST(ms AS BIGINT) END AS m
  FROM x
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
       COUNT(m) AS n_absent_hits
FROM y
GROUP BY event_type
"""


def url_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL domain normalization (_domain, step3_attempt1.py:43-57:
    netloc, lowercase, strip www.) over synthesized supplier URLs."""
    s = _t(spark, sf_dir, "supplier")
    url = F.concat(
        F.lit("https://www."),
        F.lower(F.regexp_replace("s_name", r"[^A-Za-z0-9]", "")),
        F.lit(".com.au/portfolio/companies"),
    )
    return s.select(
        "s_suppkey",
        url.alias("url"),
        F.regexp_extract(url, r"^https?://(?:www\.)?([^/]+)", 1).alias("domain"),
        F.regexp_extract(url, r"(?:portfolio|investments)/([a-z]+)", 1).alias(
            "url_slug"
        ),
    )


def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier /
    link-graph hygiene step (reference: the _domain normalization at
    step3_attempt1.py:43-57, extended to full-URL canonical form):
    four deterministic messy variants per supplier URL (case-shifted
    host, www. prefix, utm_*/ref tracking params, trailing slash)
    must collapse to ONE canonical form. Rules, applied identically
    in both twins: lowercase, strip www. after the scheme, drop
    utm_*/ref params, sort surviving params, strip trailing '/' and
    bare '?'. Pure narrow string expressions — canonicalization runs
    at scan speed, and the dedup groupBy shuffles canonical STRINGS
    once (at 100 TB you'd hash them first — dedup_exact's digest
    discipline)."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    slug = F.lower(F.regexp_replace("s_name", r"[^A-Za-z0-9]", ""))
    base = F.concat(slug, F.lit(".com.au/portfolio"))
    variants = s.select(
        "s_suppkey",
        F.explode(
            F.array(
                F.concat(F.lit("https://www."), base),
                F.concat(F.lit("HTTPS://WWW."), F.upper(base)),
                F.concat(
                    F.lit("https://"),
                    base,
                    F.lit("?utm_source=news&b=2&utm_campaign=x&a=1"),
                ),
                F.concat(F.lit("https://www."), base, F.lit("/?ref=tw")),
            )
        ).alias("url"),
    )
    lowered = F.lower(F.col("url"))
    no_www = F.regexp_replace(lowered, r"^(https?://)www\.", "$1")
    split_q = F.split(no_www, r"\?", 2)
    # try_element_at: a URL with no '?' yields a 1-element split and
    # ANSI mode makes plain [i] indexing a hard error out of range
    kept = F.expr(
        "array_join(array_sort(filter("
        "split(coalesce(try_element_at(parts, 2), ''), '&'),"
        " p -> p != '' AND p NOT RLIKE '^(utm_[a-z]+|ref)=')), '&')"
    )
    canon = F.expr(
        "rtrim('/', CASE WHEN q = '' THEN try_element_at(parts, 1)"
        " ELSE concat(try_element_at(parts, 1), '?', q) END)"
    )
    canonical = (
        variants.withColumn("parts", split_q)
        .withColumn("q", kept)
        .withColumn("canonical_url", canon)
    )
    return canonical.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.min("s_suppkey").alias("min_suppkey"),
    )


_DEDUP_URL_CANONICALIZE_SQL = r"""
WITH s AS (
  SELECT s_suppkey,
         lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g'))
           || '.com.au/portfolio' AS base
  FROM supplier
), variants AS (
  SELECT s_suppkey, unnest([
    'https://www.' || base,
    'HTTPS://WWW.' || upper(base),
    'https://' || base || '?utm_source=news&b=2&utm_campaign=x&a=1',
    'https://www.' || base || '/?ref=tw'
  ]) AS url
  FROM s
), cleaned AS (
  SELECT s_suppkey, url,
         string_split(regexp_replace(lower(url), '^(https?://)www\.', '\1'),
                      '?') AS parts
  FROM variants
), canon AS (
  SELECT s_suppkey, url,
         rtrim(CASE WHEN q = '' THEN parts[1]
                    ELSE parts[1] || '?' || q END, '/') AS canonical_url
  FROM (
    SELECT s_suppkey, url, parts,
           -- coalesce: DuckDB's array_to_string over an empty
           -- filtered list yields NULL where Spark yields ''
           coalesce(array_to_string(list_sort(list_filter(
             string_split(coalesce(parts[2], ''), '&'),
             p -> p != '' AND NOT regexp_matches(p, '^(utm_[a-z]+|ref)=')
           )), '&'), '') AS q
    FROM cleaned
  )
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_raw,
       MIN(s_suppkey) AS min_suppkey
FROM canon GROUP BY canonical_url
"""


def str_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace collapse + trim (_norm, step3_attempt1.py:36-41)."""
    c = _t(spark, sf_dir, "customer")
    messy = F.concat(F.lit("  "), F.regexp_replace("c_name", "#", "   # "), F.lit("  "))
    return c.select(
        "c_custkey",
        F.trim(F.regexp_replace(messy, r"\s+", " ")).alias("name_norm"),
    )


# ---------------------------------------------------------------------------
# flt_sargable_dates — sargable rewrite of a calendar predicate
# ---------------------------------------------------------------------------

def flt_sargable_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SARGABLE REWRITE: the calendar predicate 'orders of 1995' is
    written as the RANGE o_orderdate >= '1995-01-01' AND <
    '1996-01-01' instead of year(o_orderdate) = 1995 — the function
    form wraps the column and CANNOT reach the parquet scan (no
    min/max pruning, no row-group skipping), while the range form
    pushes down whole (plan-pinned in tests/test_round6_ops.py).
    At 100 TB on date-partitioned data this is the difference
    between scanning one year and scanning everything. The oracle
    uses the function form — proving the rewrite is equivalent."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-01-01"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("total"),
        )
    )


_FLT_SARGABLE_DATES_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS total
FROM orders
WHERE year(CAST(o_orderdate AS DATE)) = 1995
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# win_ratio_to_report — share-of-parent analytic
# ---------------------------------------------------------------------------

def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO-TO-REPORT (Oracle's name for it): each nation's exact
    ppm share of its region's revenue — the share-of-parent analytic
    every hierarchy rollup report carries next to the absolute
    number. Revenue aggregates to the 25-nation grid first (the only
    event-sized shuffle); the share is a window SUM over the tiny
    region partition with integer division. Also emits the nation's
    in-region rank for the 'top contributor' column."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", cents("o_totalprice").alias("price_c")
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.sum("price_c").alias("rev_c"))
    )
    wr = W.partitionBy("r_name")
    return rev.select(
        "r_name",
        "n_name",
        "rev_c",
        F.expr("rev_c * 1000000").alias("pre"),
        F.sum("rev_c").over(wr).alias("region_rev_c"),
        F.row_number()
        .over(wr.orderBy(F.desc("rev_c"), F.asc("n_name")))
        .cast("long")
        .alias("rank_in_region"),
    ).select(
        "r_name",
        "n_name",
        "rev_c",
        F.expr("pre div region_rev_c").alias("share_ppm"),
        "rank_in_region",
    )


_WIN_RATIO_TO_REPORT_SQL = """
WITH rev AS (
  SELECT r.r_name, n.n_name,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, rev_c,
       (rev_c * 1000000)
         // CAST(SUM(rev_c) OVER (PARTITION BY r_name) AS BIGINT)
         AS share_ppm,
       CAST(row_number() OVER (PARTITION BY r_name
                               ORDER BY rev_c DESC, n_name) AS BIGINT)
         AS rank_in_region
FROM rev
"""


# ---------------------------------------------------------------------------
# join_runtime_filter — runtime bloom-filter join pruning
# ---------------------------------------------------------------------------

def join_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME FILTER join: a selective dimension predicate (one
    order priority) is turned by Spark into a BLOOM FILTER built from
    the orders side at runtime and pushed into the lineitem scan —
    rows that cannot join are dropped AT THE SCAN, before the
    shuffle. This is Catalyst's InjectRuntimeFilter doing dynamic
    semi-join reduction; at 100 TB it is the difference between
    shuffling the whole fact table and shuffling the ~20% that can
    match. The thresholds are scoped down for the entry's lifetime
    (save/restore) because the injection heuristics assume
    production-sized scans; the rewrite never changes results — the
    oracle is the plain filtered join. Plan pinned by
    tests/test_round6_ops.py (bloom build + might_contain on the
    fact scan)."""
    conf = spark.conf
    scoped = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: conf.get(k) for k in scoped}
    for k, v in scoped.items():
        conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", cents("l_extendedprice").alias("price_c")
        )
        # InjectRuntimeFilter requires a plain scan+filter+project
        # creation side; a filtered dimension needs no pre-split copy,
        # so it reads the original file
        o = (
            load_table(spark, sf_dir, "orders", spread=False)
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderpriority")
        )
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        out = j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("price_c") / 100.0).alias("revenue"),
        )
        # optimization happens at action time, so the runtime-filter
        # plan must EXECUTE while the scoped confs are live: eager
        # localCheckpoint pins the result computed under them
        return out.localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


_JOIN_RUNTIME_FILTER_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
"""


# ---------------------------------------------------------------------------
# join_salted_skew — salted shuffle join (semantics-preserving rewrite)
# ---------------------------------------------------------------------------

_JOIN_SALTS = 8


def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SALTED-JOIN skew rewrite, proved semantics-preserving: the
    fact side (lineitem) carries a deterministic salt, the dimension
    side (part) is replicated once per salt value via explode(
    sequence), and the join runs on (key, salt) — a hot part key's
    rows land on _JOIN_SALTS reducers instead of one. `shuffle_hash`
    hints pin the shuffle join (broadcast would bypass the pattern
    being demonstrated; at 100 TB the dimension is too big to
    broadcast, which is exactly when salting matters and AQE's
    skew-split can't help a deliberately co-partitioned join).
    Replication multiplies the SMALL side only — dim x 8 is noise
    next to the fact shuffle it de-skews. The oracle is the PLAIN
    join + aggregate: equality proves the rewrite changes the
    distribution, never the answer."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.pmod("l_orderkey", F.lit(_JOIN_SALTS)).alias("salt"),
        cents("l_extendedprice").alias("price_c"),
    )
    pt = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .withColumn(
            "salt", F.explode(F.expr(f"sequence(0, {_JOIN_SALTS - 1})"))
        )
    )
    joined = li.hint("shuffle_hash").join(
        pt.hint("shuffle_hash"),
        (li["l_partkey"] == pt["p_partkey"]) & (li["salt"] == pt["salt"]),
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("price_c") / 100.0).alias("revenue"),
    )


_JOIN_SALTED_SKEW_SQL = """
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


def join_star_q5_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL STAR DENORMALIZATION (TPC-H Q5 shape, 'local supplier
    volume'): revenue by customer nation and order year where the
    SUPPLIER sits in the customer's nation — five joins whose
    broadcast/shuffle split is the whole point at 100 TB: lineitem ⋈
    orders is the ONLY big-big join (one shuffle pair); customer,
    supplier, and nation are dimension-sized and broadcast, so the
    same-nation constraint (the join predicate connecting two
    different dimension FKs) costs no extra exchange. The plan pin
    in tests counts exactly one non-broadcast join. Exact cents
    revenue; year from the raw date so the scan keeps its pushed
    range filter."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_c().alias("rev_c")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr("year(CAST(o_orderdate AS DATE))").cast("long").alias(
            "o_year"
        ),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_year")
        .agg(
            F.sum("rev_c").alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


_JOIN_STAR_Q5_LOCAL_SQL = f"""
SELECT n_name, CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_c,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, o_year
"""


QUERIES = {
    "join_star_q5_local": QuerySpec(
        join_star_q5_local,
        _JOIN_STAR_Q5_LOCAL_SQL,
        ("join", "star", "broadcast"),
    ),
    "flagship_revenue_by_nation": QuerySpec(
        flagship_revenue_by_nation, _FLAGSHIP_SQL, ("join", "agg", "flagship")
    ),
    "join_salted_skew": QuerySpec(
        join_salted_skew, _JOIN_SALTED_SKEW_SQL, ("join", "skew")
    ),
    "join_runtime_filter": QuerySpec(
        join_runtime_filter, _JOIN_RUNTIME_FILTER_SQL, ("join", "runtime-filter")
    ),
    "win_ratio_to_report": QuerySpec(
        win_ratio_to_report, _WIN_RATIO_TO_REPORT_SQL, ("window", "share")
    ),
    "flt_sargable_dates": QuerySpec(
        flt_sargable_dates, _FLT_SARGABLE_DATES_SQL, ("filter", "pushdown")
    ),
    "proj_select": QuerySpec(
        proj_select,
        "SELECT c_custkey, c_name, c_mktsegment FROM customer",
        ("projection",),
    ),
    "flt_member_pe_au": QuerySpec(
        flt_member_pe_au,
        """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_name LIKE '%5%'
        """,
        ("filter",),
    ),
    "flt_year_range": QuerySpec(
        flt_year_range,
        """
        SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        """,
        ("filter",),
    ),
    "agg_hash_groupby": QuerySpec(
        agg_hash_groupby, _AGG_HASH_GROUPBY_SQL, ("agg",)
    ),
    "agg_dedup_first": QuerySpec(
        agg_dedup_first,
        """
        SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority FROM (
          SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
                 row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          FROM orders) WHERE rn = 1
        """,
        ("dedup",),
    ),
    "agg_dedup_best": QuerySpec(
        agg_dedup_best,
        """
        SELECT c_nationkey, c_mktsegment, c_custkey, c_name, c_acctbal FROM (
          SELECT c_nationkey, c_mktsegment, c_custkey, c_name, c_acctbal,
                 row_number() OVER (
                   PARTITION BY c_nationkey, c_mktsegment
                   ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC, c_custkey
                 ) AS rn
          FROM customer) WHERE rn = 1
        """,
        ("dedup",),
    ),
    "agg_distinct_exact": QuerySpec(
        agg_distinct_exact,
        """
        SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_items
        FROM lineitem GROUP BY l_suppkey
        """,
        ("agg",),
    ),
    "agg_distinct_approx": QuerySpec(
        agg_distinct_approx, _AGG_DISTINCT_APPROX_SQL, ("agg", "approx")
    ),
    "agg_bitmap_distinct": QuerySpec(
        agg_bitmap_distinct, _AGG_BITMAP_DISTINCT_SQL, ("agg", "bitmap", "distinct")
    ),
    "agg_grouping_sets": QuerySpec(
        agg_grouping_sets,
        """
        SELECT r_name, n_name, COUNT(*) AS n_custs,
               CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        """,
        ("agg", "rollup"),
    ),
    "agg_collect_nested": QuerySpec(
        agg_collect_nested,
        """
        SELECT n_name, COUNT(*) AS n_custs,
               string_agg(c_name, '|' ORDER BY c_name) AS cust_names
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        ("agg", "nested"),
    ),
    "join_equi_hash": QuerySpec(
        join_equi_hash,
        """
        SELECT n_name, o_orderpriority,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS total_spend,
               COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderpriority
        """,
        ("join",),
    ),
    "join_broadcast": QuerySpec(
        join_broadcast,
        f"""
        SELECT n_name,
               CAST(SUM({_REV_SQL}) AS BIGINT) / 10000.0 AS supp_revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """,
        ("join", "broadcast"),
    ),
    "join_null_safe": QuerySpec(
        join_null_safe, _JOIN_NULL_SAFE_SQL, ("join", "null_safe")
    ),
    "join_left_semi": QuerySpec(
        join_left_semi,
        """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """,
        ("join", "semi"),
    ),
    "join_left_anti": QuerySpec(
        join_left_anti,
        """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """,
        ("join", "anti"),
    ),
    "join_nested_loop": QuerySpec(
        join_nested_loop,
        """
        SELECT r1.r_name AS name1, r2.r_name AS name2
        FROM region r1 CROSS JOIN region r2
        WHERE r1.r_regionkey < r2.r_regionkey
        """,
        ("join", "theta"),
    ),
    "join_asof_nearest": QuerySpec(
        join_asof_nearest, _JOIN_ASOF_NEAREST_SQL, ("join", "asof")
    ),
    "win_running_distinct": QuerySpec(
        win_running_distinct, _WIN_RUNNING_DISTINCT_SQL, ("window", "distinct")
    ),
    "win_cumsum_reset": QuerySpec(
        win_cumsum_reset, _WIN_CUMSUM_RESET_SQL, ("window", "reset")
    ),
    "join_range_asof": QuerySpec(
        join_range_asof,
        """
        WITH ev AS (
          SELECT event_id, user_id, event_type,
                 epoch_us(ts::TIMESTAMP) AS ts_us
          FROM events WHERE event_type IN ('purchase','view')
        )
        SELECT event_id AS purchase_id, user_id, prior_view_id FROM (
          SELECT event_id, user_id, event_type,
                 last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_id
          FROM ev)
        WHERE event_type = 'purchase'
        """,
        ("join", "asof"),
    ),
    "win_distribution_fns": QuerySpec(
        win_distribution_fns, _WIN_DISTRIBUTION_FNS_SQL, ("window", "distribution")
    ),
    "sql_pipe_syntax": QuerySpec(
        sql_pipe_syntax, _SQL_PIPE_SYNTAX_SQL, ("sql", "pipe")
    ),
    "sql_null_semantics_matrix": QuerySpec(
        sql_null_semantics_matrix,
        _SQL_NULL_MATRIX_SQL,
        ("sql", "null-semantics", "conformance"),
    ),
    "sql_group_by_all": QuerySpec(
        sql_group_by_all, _SQL_GROUP_BY_ALL_SQL, ("sql", "group-by-all")
    ),
    "sql_parameterized": QuerySpec(
        sql_parameterized, _SQL_PARAMETERIZED_SQL, ("sql", "parameters")
    ),
    "sql_session_variable": QuerySpec(
        sql_session_variable,
        _SQL_SESSION_VARIABLE_SQL,
        ("sql", "variables"),
    ),
    "meta_observe_metrics": QuerySpec(
        meta_observe_metrics,
        _META_OBSERVE_SQL,
        ("observability", "metrics"),
    ),
    "str_collation_group": QuerySpec(
        str_collation_group,
        _STR_COLLATION_GROUP_SQL,
        ("string", "collation"),
    ),
    "sql_lateral_alias": QuerySpec(
        sql_lateral_alias, _SQL_LATERAL_ALIAS_SQL, ("sql", "lateral-alias")
    ),
    "sql_identifier_clause": QuerySpec(
        sql_identifier_clause, _SQL_IDENTIFIER_SQL, ("sql", "identifier")
    ),
    "sql_try_arithmetic": QuerySpec(
        sql_try_arithmetic,
        _SQL_TRY_ARITHMETIC_SQL,
        ("sql", "try-functions", "ansi"),
    ),
    "sql_unpivot_syntax": QuerySpec(
        sql_unpivot_syntax, _SQL_UNPIVOT_SQL, ("sql", "unpivot")
    ),
    "sql_udf_scalar": QuerySpec(
        sql_udf_scalar, _SQL_UDF_SCALAR_SQL, ("sql", "udf")
    ),
    "sql_cte_windowed": QuerySpec(
        sql_cte_windowed, _SQL_CTE_WINDOWED_SQL, ("sql", "cte", "window")
    ),
    "sql_recursive_cte": QuerySpec(
        sql_recursive_cte, _SQL_RECURSIVE_CTE_SQL, ("sql", "recursive")
    ),
    "sql_correlated_subquery": QuerySpec(
        sql_correlated_subquery,
        _SQL_CORRELATED_SUBQUERY_SQL,
        ("sql", "subquery", "decorrelation"),
    ),
    "win_ranking_fns": QuerySpec(
        win_ranking_fns,
        """
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(rank() OVER w_ties AS BIGINT) AS bal_rank,
               CAST(dense_rank() OVER w_ties AS BIGINT) AS bal_dense_rank,
               CAST(row_number() OVER w_total AS BIGINT) AS bal_row_number,
               CAST(ntile(4) OVER w_total AS BIGINT) AS bal_quartile
        FROM customer
        WINDOW
          w_ties AS (PARTITION BY c_nationkey
                     ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC),
          w_total AS (PARTITION BY c_nationkey
                      ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC, c_custkey)
        """,
        ("window",),
    ),
    "win_analytic_fns": QuerySpec(
        win_analytic_fns,
        """
        SELECT o_orderkey, o_custkey, o_totalprice,
               lag(o_totalprice) OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
                    OVER (PARTITION BY o_custkey
                          ORDER BY year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate),
                                   o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 / 100.0 AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate),
                              o_orderkey)
        """,
        ("window",),
    ),
    "win_range_frame": QuerySpec(
        win_range_frame, _WIN_RANGE_FRAME_SQL, ("window", "frame")
    ),
    "win_ewma": QuerySpec(win_ewma, _WIN_EWMA_SQL, ("window", "ewma")),
    "agg_cube": QuerySpec(agg_cube, _AGG_CUBE_SQL, ("agg", "cube")),
    "win_best_match": QuerySpec(
        win_best_match,
        """
        SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC, o_orderkey
                     ) AS rn
              FROM orders)
        WHERE rn = 1
        """,
        ("window", "argmax"),
    ),
    "limit_per_group": QuerySpec(
        limit_per_group,
        """
        SELECT o_custkey, COUNT(*) AS n_first_orders,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS early_spend
        FROM (SELECT o_custkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY year(o_orderdate)*10000 + month(o_orderdate)*100 + day(o_orderdate),
                                o_orderkey
                     ) AS rn
              FROM orders)
        WHERE rn <= 3
        GROUP BY o_custkey
        """,
        ("window", "limit"),
    ),
    "sort_topk": QuerySpec(
        sort_topk,
        """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        ORDER BY CAST(round(c_acctbal*100) AS BIGINT) DESC, c_custkey
        LIMIT 25
        """,
        ("sort", "topk"),
    ),
    "set_intersect": QuerySpec(
        set_intersect,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        ("setop",),
    ),
    "set_except": QuerySpec(
        set_except,
        """
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
        """,
        ("setop",),
    ),
    "set_union": QuerySpec(
        set_union,
        """
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        UNION
        SELECT c_custkey AS custkey FROM customer
        WHERE CAST(round(c_acctbal*100) AS BIGINT) > 900000
        """,
        ("setop",),
    ),
    "set_member_types": QuerySpec(
        set_member_types,
        """
        SELECT event_type, COUNT(*) AS n_events FROM events
        WHERE event_type IN ('signup','purchase') GROUP BY event_type
        """,
        ("filter", "setop"),
    ),
    "date_trunc_agg": QuerySpec(
        date_trunc_agg,
        """
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(month(o_orderdate) AS BIGINT) AS o_month,
               CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) / 100.0 AS month_spend,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2
        """,
        ("date", "agg"),
    ),
    "json_variant_ops": QuerySpec(
        json_variant_ops, _JSON_VARIANT_OPS_SQL, ("json", "variant")
    ),
    "dedup_url_canonicalize": QuerySpec(
        dedup_url_canonicalize,
        _DEDUP_URL_CANONICALIZE_SQL,
        ("dedup", "url", "canonical"),
    ),
    "set_multiset_ops": QuerySpec(
        set_multiset_ops, _SET_MULTISET_OPS_SQL, ("set", "multiset")
    ),
    "sql_lateral_topk": QuerySpec(
        sql_lateral_topk, _SQL_LATERAL_TOPK_SQL, ("sql", "lateral", "topk")
    ),
    "json_get": QuerySpec(
        json_get,
        """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS avg_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
        """,
        ("json",),
    ),
    "url_domain": QuerySpec(
        url_domain,
        r"""
        SELECT s_suppkey, url,
               regexp_extract(url, '^https?://(?:www\.)?([^/]+)', 1) AS domain,
               regexp_extract(url, '(?:portfolio|investments)/([a-z]+)', 1) AS url_slug
        FROM (SELECT s_suppkey,
                     'https://www.' || lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g'))
                       || '.com.au/portfolio/companies' AS url
              FROM supplier)
        """,
        ("url",),
    ),
    "str_norm": QuerySpec(
        str_norm,
        r"""
        SELECT c_custkey,
               trim(regexp_replace('  ' || regexp_replace(c_name, '#', '   # ', 'g') || '  ',
                                   '\s+', ' ', 'g')) AS name_norm
        FROM customer
        """,
        ("string",),
    ),
}
