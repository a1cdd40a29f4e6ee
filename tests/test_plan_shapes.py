"""Physical-plan assertions: the optimizations we rely on at 100 TB
must actually appear in the plan, not just in docstrings.

Checks (via explain(formatted)): parquet filter pushdown, column
pruning (ReadSchema), broadcast joins for fixed-cardinality dims,
partial (map-side) aggregation, TakeOrderedAndProject for top-k, and
no accidental CartesianProduct in the fact-side joins.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from pe_firm_investment_database_pipeline_spark.plans import all_queries

SF = "/root/testdata/sf0.01"
_Q = all_queries()


def _plan(spark, op_id: str) -> str:
    df = _Q[op_id].fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_flagship(spark):
    plan = _plan(spark, "flagship_revenue_by_nation")
    assert "PushedFilters" in plan
    # the shipdate range predicate reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_filter_pushdown_isin(spark):
    plan = _plan(spark, "flt_member_pe_au")
    assert "In(c_mktsegment" in plan


def test_column_pruning(spark):
    """proj_select reads exactly its 3 columns — no full-row scan."""
    plan = _plan(spark, "proj_select")
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "c_custkey" in read_schema
    assert "c_name" in read_schema
    assert "c_mktsegment" in read_schema
    assert "c_acctbal" not in read_schema
    assert "c_address" not in read_schema


@pytest.mark.parametrize(
    "op_id",
    ["flagship_revenue_by_nation", "join_broadcast", "join_score_argmax"],
)
def test_dims_broadcast(spark, op_id):
    plan = _plan(spark, op_id)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation(spark):
    """agg_hash_groupby runs map-side partial + final HashAggregate —
    the shuffle carries pre-combined groups, not raw rows."""
    plan = _plan(spark, "agg_hash_groupby")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial_count" in plan


def test_score_argmax_is_partial_aggregated(spark):
    """join_score_argmax (r13 staircase decomposition): the entity
    side must never materialize the E x C scored pair relation — no
    ranking window, no cartesian, and the entity resolves through
    broadcast HASH joins against the dimension-sized staircase grid.
    (The pre-r13 pin asserted map-side partial max over the scored
    cross join; the rewrite removed the pair relation entirely, so
    the aggregate under test is now the supplier-side staircase
    build. Result equivalence with the cross-join formulation is
    pinned bit-for-bit in tests/test_round13_ops.py.)"""
    plan = _plan(spark, "join_score_argmax")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # four families + winner


def test_topk_is_take_ordered(spark):
    """Global top-k never materializes a full sort."""
    plan = _plan(spark, "sort_topk")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in _plan(spark, "join_left_semi")
    assert "LeftAnti" in _plan(spark, "join_left_anti")


def test_lsh_join_is_equi_not_cross(spark):
    """The MinHash LSH candidate join must be a hash/merge equi-join
    on (band, bkey) — the sub-quadratic property."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_windows_is_narrow_only(spark):
    """chunk_token_windows claims scan-speed at 100 TB: no shuffle may
    come from the operator itself — token count, in-row sequence,
    explode, all narrow. The only allowed exchange is `_spread`'s
    round-robin parallelism floor for the under-split test files
    (REPARTITION_BY_NUM; a no-op on real 128 MB-split inputs) — never
    a hash/range exchange demanded by the operator."""
    plan = _plan(spark, "chunk_token_windows")
    # formatted plans print each node twice (tree + detail); every
    # Exchange present must be the round-robin spread, nothing else
    assert plan.count("Exchange") == 2 * plan.count("REPARTITION_BY_NUM")
    assert "ENSURE_REQUIREMENTS" not in plan  # no operator-required shuffle
    assert "Generate" in plan  # the explode actually happens


def test_mm_resize_filters_before_python(spark):
    """The image-type filter must run in the JVM scan stage, before
    the Arrow/Python hop — at 100 TB the video rows never reach a
    Python worker."""
    plan = _plan(spark, "mm_resize")
    assert "MapInPandas" in plan
    # the filter node appears below (later in formatted order than)
    # the scan and before the Python stage: formatted plans list
    # operators bottom-up by id, so Filter's id must be smaller than
    # MapInPandas' id
    import re

    def first_id(name):
        m = re.search(rf"\((\d+)\) {name}", plan)
        assert m, f"{name} not in plan"
        return int(m.group(1))

    assert first_id("Filter") < first_id("MapInPandas")


@pytest.mark.parametrize("join_type", ["inner", "leftOuter"])
def test_stream_join_uses_symmetric_hash_join(spark, join_type):
    """Both stream-stream interval joins (inner and the left-outer
    null-emitting variant) must run as Spark's state-bounded
    StreamingSymmetricHashJoin, not fall back to a batch join shape
    (which would buffer a side unboundedly)."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.streaming import windows as SW
    from pyspark.sql import functions as F

    path = SW._prepare_input(spark, SF)
    views, buys = SW._interval_join_sides(spark, path)
    joined = views.join(buys, F.expr(SW._INTERVAL_COND), join_type)
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    assert "StreamingSymmetricHashJoin" in buf.getvalue()


def test_restricted_knn_lost_its_scalar_bnlj(spark):
    """sim_knn_blocked's round-5 rework: the in-plan nbits scalar is a
    global window over the coalesced tiny set, so the plan must carry
    NO BroadcastNestedLoopJoin (the old agg+cross-join scalar glue)
    and pair via a BroadcastHashJoin on the cell."""
    plan = _plan(spark, "sim_knn_blocked")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_full_consumes_staged_index(spark):
    """sim_knn_blocked_full must read the persisted signature index
    (InMemoryTableScan) on BOTH pair-join sides instead of recomputing
    the scan+UDF chain per side — the 'stage the index' shape that
    amortizes at 100 TB."""
    plan = _plan(spark, "sim_knn_blocked_full")
    assert plan.count("InMemoryTableScan") >= 2


def test_ann_join_broadcasts_centroids(spark):
    """sim_ann_join's query-probe assignment must broadcast the
    ~sqrt(N) centroid relation (never shuffle the corpus for it), and
    candidate pairing must stay equi-join (no CartesianProduct of
    data rows). Asserted on the BUILDER (_ann_join_result_build):
    the registry entry serves the memoized eager checkpoint (the
    "ann_result" front) — a lineage-free scan (pinned below)."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.plans.similarity import (
        _ann_join_result_build,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        _ann_join_result_build(spark, SF).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ann_join_entry_serves_checkpoint(spark):
    """The registry entry must serve the materialized front — its
    plan is a checkpoint-RDD scan, never a re-derivation of the
    probe join (which would re-execute per consumer reference)."""
    plan = _plan(spark, "sim_ann_join")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_scd2_single_exchange(spark):
    """The SCD2 dimension-build plan: two windows and the change
    filter all key on user_id, so Catalyst must plan exactly ONE
    operator-required exchange (both sorts/windows reuse the same
    partitioning); the only other exchange allowed is _spread's
    round-robin floor. Asserted on the front BUILDER (_scd2_changes)
    because merge_scd2's returned frame is the staged eager
    localCheckpoint — a lineage-free scan (pinned below)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from pe_firm_investment_database_pipeline_spark.plans.sessions import (
        _scd2_changes,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    df = _scd2_changes(
        load_table(spark, SF, "events").select(
            "user_id", "ts_us", "event_id", F.col("event_type").alias("state")
        )
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # ENSURE_REQUIREMENTS prints once per exchange node (detail only)
    ensure = plan.count("ENSURE_REQUIREMENTS")
    assert ensure == 1, f"expected one required exchange, plan has {ensure}"
    # and the registry entry serves the STAGED front: no exchange at
    # all in the consumer-facing plan (production reads it from disk)
    staged = _plan(spark, "merge_scd2")
    assert "ENSURE_REQUIREMENTS" not in staged, (
        "merge_scd2 should serve the staged checkpoint, not rebuild"
    )


def test_domain_mixture_rate_table_is_broadcast(spark):
    """samp_domain_mixture joins the per-language rate table back to
    the corpus: the rate side (#languages rows) must be BROADCAST so
    the keep decision never shuffles the 100 TB scan side."""
    plan = _plan(spark, "samp_domain_mixture")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_redact_is_map_side(spark):
    """txt_pii_redact runs at scan speed: regex project only — no
    exchange beyond _spread's parallelism floor, no join, no agg."""
    plan = _plan(spark, "txt_pii_redact")
    assert plan.count("Exchange") == 2 * plan.count("REPARTITION_BY_NUM")
    assert "ENSURE_REQUIREMENTS" not in plan


def test_corr_stats_partial_aggregation(spark):
    """agg_corr_stats' decimal sufficient statistics must combine
    map-side (HashAggregate below the exchange) — the property that
    makes the 5-sum pass one bounded shuffle at 100 TB."""
    plan = _plan(spark, "agg_corr_stats")
    import re

    aggs = re.findall(r"\(\d+\) HashAggregate", plan)
    assert len(aggs) >= 2, "expected partial+final HashAggregate pair"


def test_scd2_asof_no_range_join(spark):
    """join_scd2_asof must resolve point-in-time lookups via the
    interleave/carry-forward window, never a range join: no
    BroadcastNestedLoopJoin or CartesianProduct anywhere, and every
    required exchange hashes on the dimension key."""
    plan = _plan(spark, "join_scd2_asof")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Union") >= 1


def test_audio_resample_filters_before_python(spark):
    """mm_audio_resample prunes to audio-typed rows in the JVM before
    the Arrow/Python hop — same discipline as mm_resize."""
    import re

    plan = _plan(spark, "mm_audio_resample")
    assert "MapInPandas" in plan

    def first_id(name):
        m = re.search(rf"\((\d+)\) {name}", plan)
        assert m, f"{name} not in plan"
        return int(m.group(1))

    assert first_id("Filter") < first_id("MapInPandas")


def test_hll_rollup_partial_aggregation(spark):
    """agg_hll_rollup's nation-level sketch aggregate must combine
    map-side (partial hll_sketch_agg below the exchange) — the
    pre-aggregate half of the sketch-merge idiom."""
    plan = _plan(spark, "agg_hll_rollup")
    assert "partial_hll_sketch_agg" in plan or plan.count("ObjectHashAggregate") >= 2


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """At 100 TB a selective dimension predicate must prune fact rows
    BEFORE the join shuffle via Spark's runtime bloom filter. The
    engine's session keeps the optimizer flag on, and the injection
    works on the at-scale scan path — which has NO parallelism-floor
    repartition (_spread is a no-op once file count exceeds core
    count), so the test scans raw parquet exactly as a cluster would.
    Thresholds are lowered because sf0.01 inputs are far below the
    production 10 GB application-side default."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .where("o_orderpriority = '1-URGENT'")
            .where("o_totalprice > 400000")
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_thr,
        )
    assert "might_contain" in plan  # fact side pre-filtered by the bloom
    assert "bloom_filter_agg" in plan  # built from the filtered dim side


def test_equidepth_hist_no_global_sort(spark):
    """agg_equidepth_hist must derive quantile bins WITHOUT a
    single-partition global sort (the ntile trap): no Window in the
    plan, boundaries broadcast, bin assignment map-side."""
    plan = _plan(spark, "agg_equidepth_hist")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_attribution_single_user_shuffle(spark):
    """evt_attribution's three window passes all key on user_id (or
    its refinement (user_id, sid)), so the plan needs exactly one
    operator-required exchange — sessionize and carry-forward run
    co-partitioned; no events-to-events self join."""
    plan = _plan(spark, "evt_attribution")
    ensure = plan.count("ENSURE_REQUIREMENTS")
    assert ensure == 1, f"expected one required exchange, got {ensure}"
    assert "Join" not in plan


def test_bm25_topk_take_ordered_no_corpus_window(spark):
    """rag_bm25_topk must cut the top-10 with TakeOrderedAndProject
    (per-partition heap + driver merge) before any window touches the
    data — a global row_number over the scored corpus would be the
    single-partition trap. The df/stats sides must broadcast onto the
    per-document term frequencies."""
    plan = _plan(spark, "rag_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    # the only Window is over the already-limited 10 survivors:
    # it must appear ABOVE the TakeOrderedAndProject in the tree
    # (formatted explain lists operators leaves-last, so the Window's
    # node id is smaller than the TakeOrderedAndProject's)
    win_id = plan.index("Window")
    take_id = plan.index("TakeOrderedAndProject")
    assert win_id < take_id
    assert "BroadcastExchange" in plan


def test_inverted_index_partial_aggregation(spark):
    """idx_inverted's (df, cf, postings) aggregate keeps map-side
    partial aggregation on the term key, so the shuffle carries
    partial states, not raw postings rows."""
    plan = _plan(spark, "idx_inverted")
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    # exactly two aggregation shuffles — (term, bucket) pages, then the
    # term-level page merge; the countDistinct planner rewrite would
    # make it three
    assert plan.count("ENSURE_REQUIREMENTS") == 2
    assert "partial_collect_set" in plan  # map-side combine on pages


def test_udtf_kwic_arrow_no_shuffle(spark):
    """udtf_kwic runs through the native Arrow UDTF operator with no
    aggregation shuffle — the only exchange is the loader's
    parallelism-floor rebalance, never ENSURE_REQUIREMENTS."""
    plan = _plan(spark, "udtf_kwic")
    assert "ArrowEvalPythonUDTF" in plan
    assert "ENSURE_REQUIREMENTS" not in plan


def test_gapfill_single_partitioning(spark):
    """ts_gapfill_ffill keys every stage on user_id: the explicit
    user_id repartition must satisfy the aggregates, the spine join,
    and the forward-fill window — the planner adds no
    ENSURE_REQUIREMENTS exchange of its own."""
    plan = _plan(spark, "ts_gapfill_ffill")
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "Window" in plan
    assert "Generate" in plan  # the spine explode


def test_correlated_subquery_decorrelates(spark):
    """Both per-part scalar subqueries must decorrelate to
    aggregate-then-join (hash joins on l_partkey) — never a
    BroadcastNestedLoopJoin or per-row re-scan."""
    plan = _plan(spark, "sql_correlated_subquery")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Join" in plan


def test_anomaly_mad_broadcasts_stats(spark):
    """evt_anomaly_mad's median/MAD tables (5 rows each) must come
    back onto the events scan as BROADCAST joins — a shuffled join on
    event_type (5 distinct values) would funnel the whole fact table
    through 5 tasks. The anomaly fence itself is then map-side."""
    plan = _plan(spark, "evt_anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_joins_are_broadcast(spark):
    """contamination_bloom's two bitset probes must be BROADCAST hash
    joins (<=1024-row word tables onto the shingle stream) and the
    whole plan must stay free of cartesian/nested-loop joins — the
    prefilter is only cheaper than the exact join if the bitset never
    shuffles the corpus side."""
    plan = _plan(spark, "contamination_bloom")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recursive_split_is_narrow(spark):
    """chunk_recursive_split must be a pure narrow transform: no
    Exchange anywhere except the parallelism-floor repartition of the
    source scan — the chunker itself adds zero shuffles."""
    plan = _plan(spark, "chunk_recursive_split")
    # only _spread's round-robin parallelism floor — never a hash or
    # range repartition (those would mean a hidden wide dependency)
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Generate" in plan  # the posexplode
    assert "Window" not in plan and "HashAggregate" not in plan


def test_ohlc_single_shuffle(spark):
    """ts_resample_ohlc's window partitioning (type, day) must be
    reused by the aggregate: exactly ONE hash exchange beyond the
    source parallelism floor."""
    plan = _plan(spark, "ts_resample_ohlc")
    assert plan.count("Arguments: hashpartitioning") == 1


def test_mmr_candidate_stage_is_topk(spark):
    """rag_mmr_rerank's distributed stage must cut the corpus with
    TakeOrderedAndProject (no global sort), and the greedy tail must
    run over checkpointed slates (scan-free: the final plan contains
    no parquet scan of embeddings)."""
    plan = _plan(spark, "rag_mmr_rerank")
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "parquet" not in plan.lower()


# ---------------------------------------------------------------------------
# Late-round-6 operators: the scale-bearing plan properties
# ---------------------------------------------------------------------------

def test_linreg_trend_single_shuffle_partial_agg(spark):
    """One hash aggregate on user_id with a map-side partial phase;
    no window, no sort."""
    plan = _plan(spark, "agg_linreg_trend")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_max_drawdown_one_sort_one_window(spark):
    """The dependent frames stack as two Window nodes (peak consumes
    equity) but share ONE partitioning — stacking must not add a
    shuffle or a second sort."""
    plan = _plan(spark, "win_max_drawdown")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    windows = [ln for ln in plan.splitlines() if ") Window" in ln]
    assert len(windows) == 2, windows
    sorts = [ln for ln in plan.splitlines() if ") Sort" in ln]
    assert len(sorts) == 1, sorts
    assert "CartesianProduct" not in plan


def test_rolling_linreg_single_window_node(spark):
    """All five frame aggregates share one Window node on one sort."""
    plan = _plan(spark, "win_rolling_linreg")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    windows = [ln for ln in plan.splitlines() if ") Window" in ln]
    assert len(windows) == 1, windows


def test_kmeans_broadcast_assignment(spark):
    """The N x K assignment is a broadcast join — vectors never
    shuffle for assignment; only the (cluster, coord) grid does.
    Asserted on the front BUILDER (`_km_assign_build`) because the
    registry entry serves the staged eager localCheckpoint."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.plans.similarity import (
        _km_assign_build,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        _km_assign_build(spark, SF).explain("formatted")
    builder = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in builder or "BroadcastExchange" in builder
    assert "CartesianProduct" not in builder
    # the registry entry consumes the checkpointed front (lineage-free
    # RDD scan), never re-running the Lloyd iteration subtree
    plan = _plan(spark, "ml_kmeans_fixed")
    assert "Scan ExistingRDD" in plan
    assert "embeddings" not in plan


def test_heavy_hitters_broadcast_confirm(spark):
    """The exact re-count semi-joins against BROADCAST candidates —
    the token stream is never shuffled on token for the prefilter."""
    plan = _plan(spark, "sketch_freq_heavy")
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


# Every late-r10 staged-front entry must SERVE its memoized
# checkpoint (lineage-free RDD scan) rather than rebuild the front;
# where the front carries ALL of the entry's corpus-side work, the
# base table must not appear in the plan at all. rag_context_packing
# (documents re-scan for lengths) and evt_ltv_expected (orders scan
# for the spend side) deliberately keep one base scan and are pinned
# RDD-only.
_STAGED_SERVING = [
    ("txt_pmi_pairs", "documents"),
    ("txt_rake_keywords", "documents"),
    ("txt_keyphrase_textrank", "documents"),
    ("rag_bm25_topk", "documents"),
    ("rag_query_expansion", "documents"),
    ("rag_context_packing", None),
    ("evt_survival_km", "orders"),
    ("evt_ltv_expected", None),
    ("ts_outlier_repair", "events"),
    ("ml_cluster_medoid", "embeddings"),
    ("dedup_simhash", "documents"),
    ("sketch_kmv_setops", "events"),
    # r11: the shared _kmv_hashed front carries ALL of the distinct
    # estimator's corpus work too (exact twin counts front rows)
    ("sketch_kmv_distinct", "events"),
    # r11: the shared _tf_lang front (NB keeps one documents scan
    # for priors — zero-token docs count toward priors but have no
    # tf rows, so the prior side must read the table)
    ("samp_dsir_importance", "documents"),
    ("ml_naive_bayes", None),
    # r12 optimization round: the passage-run RESULT front serves
    # both passage entries (runs directly; overlap joins doc lengths
    # onto the checkpointed pair rollup, so documents MAY appear in
    # overlap's plan but runs itself must be scan-free)
    ("dedup_passage_runs", "documents"),
]


def test_fk_orphans_no_parent_distinct(spark):
    """r12 optimization: every audited parent key is a PRIMARY key,
    so the parent build sides must NOT spend a distinct aggregate
    before the broadcast (4 removed exchanges). The remaining
    aggregates are the per-edge orphan counts (partial+final per
    audit) — pin the formatted-plan HashAggregate mentions well
    under the old distinct-bearing count (was 40, now 16)."""
    plan = _plan(spark, "dq_fk_orphans")
    assert plan.count("HashAggregate") <= 20, plan.count("HashAggregate")


@pytest.mark.parametrize("op_id,absent", _STAGED_SERVING)
def test_staged_entry_serves_checkpoint(spark, op_id, absent):
    plan = _plan(spark, op_id)
    assert "Scan ExistingRDD" in plan, f"{op_id} does not serve a checkpoint"
    if absent is not None:
        assert absent not in plan, (
            f"{op_id} re-scans {absent} despite the staged front"
        )


def test_ts_daily_fence_builder_broadcasts(spark):
    """The MAD-cascade front builder keeps BOTH percentile passes as
    broadcast joins (median + MAD are per-type scalars joined back to
    the grid) — pinned on the BUILDER (`_ts_daily_fence_build`)
    because the registry entry serves the staged checkpoint."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _ts_daily_fence_build,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        _ts_daily_fence_build(spark, SF).explain("formatted")
    builder = buf.getvalue()
    assert builder.count("BroadcastHashJoin") >= 2, builder
    assert "CartesianProduct" not in builder
    assert "SortMergeJoin" not in builder


def test_market_basket_broadcasts_dim(spark):
    """part is broadcast inside the basket-front BUILDER (the
    registry entry serves the staged checkpoint, so the dim join
    lives in `_brand_baskets_build`'s plan); the entry's pair
    self-join equi-joins on the order key (no cartesian) and its
    marginal/total joins stay broadcast."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _brand_baskets_build,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        _brand_baskets_build(spark, SF).explain("formatted")
    builder = buf.getvalue()
    assert "BroadcastHashJoin" in builder
    assert "CartesianProduct" not in builder
    plan = _plan(spark, "agg_market_basket")
    # the entry consumes the checkpointed front (lineage-free RDD
    # scan), never re-scanning lineitem parquet
    assert "Scan ExistingRDD" in plan
    assert "lineitem" not in plan
    assert "BroadcastHashJoin" in plan  # lift marginals + total
    assert "CartesianProduct" not in plan


def test_active_users_grid_first(spark):
    """The trailing-window expansion joins the broadcast day spine
    onto the DISTINCT user-day grid — never onto raw events."""
    plan = _plan(spark, "evt_active_users")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_seasonality_grid_shuffle_only(spark):
    """The only hash exchange carries the (type, hour) grid."""
    plan = _plan(spark, "evt_seasonality_profile")
    assert plan.count("Arguments: hashpartitioning(event_type") >= 1
    assert "CartesianProduct" not in plan


def test_group_by_all_same_plan_as_explicit(spark):
    """GROUP BY ALL must compile to the same aggregate pipeline as
    the explicit grouping — same partial+final HashAggregate pair,
    same grouping keys in the plan text."""
    plan = _plan(spark, "sql_group_by_all")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "o_orderpriority" in plan and "o_orderstatus" in plan
    assert "CartesianProduct" not in plan


def test_unpivot_is_single_expand_pass(spark):
    """The UNPIVOT clause compiles to ONE Expand over the aggregated
    wide row — never a re-scan per metric (3 metrics, 1 scan)."""
    import re

    plan = _plan(spark, "sql_unpivot_syntax")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_bootstrap_is_one_scan_partial_agg(spark):
    """All 20 replicate sums must accumulate in one scan with
    map-side partial aggregation — no row explosion, no extra scans."""
    import re

    plan = _plan(spark, "ml_bootstrap_ci")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "partial" in plan.lower()
    assert "Generate" not in plan  # no explode-based resampling


def test_k_anonymity_ladder_is_one_expand_scan(spark):
    """All three generalization levels come from ONE rollup Expand
    over one customer scan — the O(one pass) audit claim."""
    import re

    plan = _plan(spark, "sec_k_anonymity")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_zonemap_scan_is_column_pruned(spark):
    """The zone-stats pass reads only the two profiled columns (plus
    the partition column) from the staged layout."""
    plan = _plan(spark, "src_zonemap_stats")
    read_schema = next(
        line for line in plan.splitlines()
        if "ReadSchema" in line and "o_orderdate" in line
    )
    assert "o_totalprice" in read_schema
    assert "o_comment" not in read_schema
    assert "o_clerk" not in read_schema


def test_fifo_allocation_broadcasts_customer(spark):
    """fin_fifo_allocation joins the customer budget dim by
    broadcast — no shuffle of the orders side for the dim join, no
    cartesian product."""
    plan = _plan(spark, "fin_fifo_allocation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_frequency_capping_single_event_shuffle(spark):
    """evt_frequency_capping's docstring claims exactly ONE
    event-sized shuffle (the within-hour rank window on user_id,
    hour); the grid-side shuffles ride partial aggregation — so the
    plan has exactly one hashpartitioning exchange whose child is
    NOT an aggregate."""
    plan = _plan(spark, "evt_frequency_capping")
    # the rank window's exchange is the only one fed by a raw
    # projection; every other hashpartitioning sits above a partial
    # HashAggregate (grid-sized rows)
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "partial_count" in plan  # grid branch pre-aggregates at scan
    assert "CartesianProduct" not in plan


def test_duplicate_payments_is_blocked_equi_join(spark):
    """dq_duplicate_payments must pair via an equi-join on
    (custkey, price) — a SortMergeJoin/ShuffledHashJoin with both
    keys — never a cartesian or broadcast-nested-loop over orders."""
    plan = _plan(spark, "dq_duplicate_payments")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # any KEYED join form qualifies (AQE broadcasts at tiny SF; a
    # cluster picks SMJ) — what's forbidden is an unkeyed pairing
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_er_pipeline_blocked_join_and_no_cartesian(spark):
    """er_pipeline_e2e's candidate generation is an equi-join on the
    skip-gram block key — pinned on the pair front (the full plan's
    fan-out makes node classes hard to attribute); the full plan must
    stay cartesian-free. The entry now eager-checkpoints the edges
    and per-round labels — the r11 quiet-window A/B flipped the r10
    decision (checkpoint 0.59x at sf0.1, 0.93x at sf1.0; see the r11
    BENCH_NOTES determination), so the front pin here is the one
    place the blocked-join shape stays visible."""
    import io
    from contextlib import redirect_stdout

    from pe_firm_investment_database_pipeline_spark.plans.matching import (
        _er_recs_and_pairs,
    )

    _, pairs = _er_recs_and_pairs(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pairs.explain("formatted")
    front = buf.getvalue()
    assert "CartesianProduct" not in front
    assert "BroadcastNestedLoopJoin" not in front
    # any KEYED join form qualifies (tiny SF broadcasts; a cluster
    # picks SMJ) — what's forbidden is an unkeyed pairing
    assert (
        "SortMergeJoin" in front
        or "ShuffledHashJoin" in front
        or "BroadcastHashJoin" in front
    )

    plan = _plan(spark, "er_pipeline_e2e")
    assert "CartesianProduct" not in plan


def test_doc_perplexity_partial_aggregated_no_cartesian(spark):
    """txt_doc_perplexity's LM counts must combine map-side (the
    bigram shuffle carries pre-reduced (w1, w2) groups, not raw
    occurrences) and the bigram occurrence-to-LM join must be a
    keyed join — never a cartesian; the log2 decomposition is pure
    expression work, so no extra exchange may appear for it."""
    plan = _plan(spark, "txt_doc_perplexity")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_query_expansion_broadcasts_term_tables(spark):
    """rag_query_expansion's term-weight / df / stats sides must
    broadcast onto the corpus explode (they are query-sized); the
    only nested-loop joins allowed are the 1-row stats crosses."""
    plan = _plan(spark, "rag_query_expansion")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_avg_cost_basis_grid_partial_aggregation(spark):
    """fin_avg_cost_basis compresses lineitem to the (supplier,
    month) grid with map-side combine BEFORE the per-supplier fold;
    the fold itself is expression work over collected arrays — no
    join in the plan at all."""
    plan = _plan(spark, "fin_avg_cost_basis")
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "Join" not in plan


def test_kalman_day_grid_partial_aggregation(spark):
    """ts_kalman_1d's only corpus-sized work is the (type, day) grid
    compression — partial-aggregated; the fold adds no join and no
    window."""
    plan = _plan(spark, "ts_kalman_1d")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_dp_geometric_noise_is_map_side(spark):
    """sec_dp_geometric: one grid compression shuffle, then the
    mechanism (draw, inverse-CDF walk, suppression) is map-side
    expression work — no join, no window, no second aggregate."""
    plan = _plan(spark, "sec_dp_geometric")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan


def test_decision_stump_no_global_row_sort(spark):
    """ml_decision_stump's windows run on the per-feature
    distinct-value grid, never on raw rows, and the final argmax is
    an aggregate — no join, no TakeOrdered over the corpus."""
    plan = _plan(spark, "ml_decision_stump")
    assert "Join" not in plan
    assert "partial_count" in plan
    assert plan.count("HashAggregate") >= 2


def test_npv_schedule_broadcast_dims_partial_agg(spark):
    """fin_npv_schedule: the corpus pass is ONE partial-aggregable
    (nation, month) grid shuffle; supplier and nation dims broadcast
    (never shuffle the fact side for them); no cartesian product."""
    plan = _plan(spark, "fin_npv_schedule")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_bpe_merge_rounds_vocab_sized_after_one_corpus_pass(spark):
    """txt_bpe_merge_rounds: the returned plan starts from the
    checkpointed vocab-sized word tables — every per-round argmax
    rides a 1-row broadcast (BroadcastNestedLoopJoin is the expected
    shape for a broadcast scalar crossJoin), never a data-sized
    CartesianProduct, and no corpus scan appears in the ledger plan."""
    plan = _plan(spark, "txt_bpe_merge_rounds")
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan, (
        "corpus re-scan in the ledger plan — the word table must be "
        "the staged checkpoint"
    )
