"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<op>": sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). Timings include Catalyst planning but share one
JVM/session — the same way a resident cluster would serve them.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pe_firm_investment_database_pipeline_spark.plans import all_queries
from pe_firm_investment_database_pipeline_spark.session import get_spark

HEADLINE = [
    "flagship_revenue_by_nation",
    "agg_hash_groupby",
    "agg_distinct_exact",
    "join_equi_hash",
    "join_broadcast",
    "join_range_asof",
    "join_score_argmax",
    "win_best_match",
    "win_ranking_fns",
    "agg_consensus",
    "agg_weighted_vote",
    "txt_quality_score",
    "txt_repetition_filter",
    "txt_bpe_tokens",
    "txt_winnowing",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_incremental_lsh",
    "sim_cosine_topk",
    "sim_range_search",
    "sim_knn_blocked",
    "sim_knn_blocked_full",
    "seed_extract_pe_firms",
    "stream_tumbling",
    "stream_custom_state",
    "stream_join_interval",
    "stream_join_interval_outer",
    "mm_feature_extract",
    "mm_resize",
    "mm_phash_neardup",
    "chunk_token_windows",
    "io_http_fetch",
    "udaf_grouped_pandas",
    "agg_percentiles",
    "agg_percentile_approx",
    "evt_anomaly_mad",
    "agg_bitmap_distinct",
    "sim_ivf_multiprobe",
    # NEW entries that share a staged index with a prev-scope entry
    # run AFTER it, so the prev-scope entry's timing keeps its
    # round-over-round cold/warm position (sim_ann_join reuses
    # sim_ivf_multiprobe's staged IVF index; containment reuses the
    # jaccard join's staged candidate counts).
    "sim_ann_join",
    "dedup_containment",
    "contamination_bloom",
    "curation_pipeline_e2e",
    "merge_scd2",
    "samp_domain_mixture",
    "txt_pii_redact",
    "agg_corr_stats",
    "profile_drift",
    "profile_ks_drift",
    "join_scd2_asof",
    "agg_hll_rollup",
    "mm_audio_resample",
    "sim_pq_topk",
    "samp_topk_hash",
    "samp_train_split",
    "evt_attribution",
    "evt_audience_overlap",
    "evt_cusum_changepoint",
    "evt_streaks",
    "agg_equidepth_hist",
    "json_variant_ops",
    "snk_partition_overwrite",
    "win_distribution_fns",
    "win_ewma",
    "join_null_safe",
    "sim_ann_index_append",
    "sql_cte_windowed",
    "src_corrupt_tolerant",
    "src_text_scan",
    "rag_retrieve_docs",
    # runs after dedup_incremental_lsh so the persisted band index is
    # warm and the entry times the streaming join, not the index build
    "stream_dedup_lsh",
    "idx_inverted",
    "rag_bm25_topk",
    "udtf_kwic",
    # shares the minhash pair front with dedup_connected_components;
    # runs late so the staged shingle/signature frames are warm
    "graph_pagerank",
    "graph_triangles",
    "dedup_canonical_pick",
    # shares the staged IVF index with sim_ann_join / sim_ivf_multiprobe
    "rag_hybrid_rrf",
    "dq_constraint_check",
    "diff_snapshots",
    "ts_gapfill_ffill",
    "stream_upsert_foreachbatch",
    "sql_recursive_cte",
    "src_python_datasource",
    "src_schema_evolution",
    "snk_zorder_layout",
    # new in round 6
    "ts_resample_ohlc",
    "ts_gapfill_linear",
    "evt_top_paths",
    "sketch_kmv_distinct",
    "rag_mmr_rerank",
    "txt_rake_keywords",
    "chunk_recursive_split",
    "evt_ab_test",
    "profile_cardinality_report",
    "samp_class_balance",
    "stream_ohlc_bars",
    "join_spatial_grid",
    "txt_boilerplate_chunks",
    "agg_gini_diversity",
    "win_median_sliding",
    "mm_scene_cuts",
    "evt_rfm_segmentation",
    "dedup_url_canonicalize",
    "sketch_kmv_setops",
    "set_multiset_ops",
    "sql_lateral_topk",
    "src_csv_permissive",
    "agg_linreg_trend",
    "win_max_drawdown",
    "ts_autocorr",
    "sketch_freq_heavy",
    "join_salted_skew",
    "ml_kmeans_fixed",
    "mm_silence_detect",
    "evt_seasonality_profile",
    "ts_decompose_ma",
    "evt_inter_arrival",
    "win_rolling_linreg",
    "agg_market_basket",
    "txt_hapax_stats",
    "graph_kcore_peel",
    "evt_time_to_convert",
    "ts_anomaly_decomposed",
    "stream_topk_windowed",
    "snk_bucketed_join",
    "evt_active_users",
    "txt_bigram_prob",
    "join_runtime_filter",
    "agg_pareto_abc",
    "txt_pmi_pairs",
    "mm_image_tiles",
    "ts_pct_change_wow",
    "evt_cohort_triangle",
    "ml_knn_classify",
    "evt_bot_score",
    "evt_recency_score",
    "ts_forecast_snaive",
    "sec_row_mask_policy",
    "txt_code_detect",
    "src_file_lineage",
    "ml_eval_confusion",
    "txt_extractive_summary",
    "ml_minmax_scale",
    "ts_outlier_repair",
    "evt_survival_km",
    "ml_cluster_medoid",
    "ml_pca_power",
    "evt_ab_srm_check",
    "evt_ltv_expected",
    "agg_metric_decompose",
    "txt_novelty_share",
    "stream_distinct_users",
    "dq_benford_check",
    "evt_peak_concurrency",
    "dedup_method_compare",
    "win_ratio_to_report",
    "flt_sargable_dates",
    "agg_weighted_median",
    # after the graph family so its minhash-pair front is warm
    "graph_common_neighbors",
    # runs after graph_pagerank/graph_triangles so the minhash pair
    # front and the component fixpoint caches are warm
    "graph_cc_incremental",
]


def _full_headline() -> list[str]:
    """Coverage policy (r6 verdict #7): the bench measures EVERY
    registry entry, so a regression can never hide in an unbenched
    op. The explicit HEADLINE list pins a warm-index-aware ordering
    for the long-lived cohort (entries that share staged indexes run
    after their builders); every other registry entry — the light
    scalar/filter/url/set tail plus anything newly added — appends
    here in registry order automatically."""
    reg = list(all_queries())
    pinned = set(HEADLINE)
    return HEADLINE + [op for op in reg if op not in pinned]

# best-of-N, adaptive: every entry gets AT LEAST one repeat (the
# first run pays cold staging/index builds — recording it would make
# round-over-round ratios measure cache state, not the query), and
# sub-second queries get a third run (a stray 100 ms is a 30% swing
# there; multi-second queries are work-dominated). The repeat decision
# keys on the first WARM run, not the cold run (r5 advice): an entry
# with expensive one-time staging but a sub-second warm path is
# exactly the class that needs the extra repeat. On top of that, any
# entry whose warm best moves outside [0.8, 1.25]x of last round's
# number gets pinned to a full extra repeat before recording, so a
# recorded regression is never a single noisy sample.
RUNS = 3
RATIO_BAND = (0.8, 1.25)

# Result-front accounting (r12 verdict "Next round" #1): entries whose
# DECLARED RESULT is itself a memoized front previously recorded a
# warm best-of-N that timed a cache read (8–94 ms against 0.6–4.4 s
# cold). Before EVERY timed run of every entry — cold, warm repeats
# and the outlier-pin sample alike — the bench drops the fronts
# that entry OWNS (session_cache.evict_owner; the owner is declared
# where the front is built). The shared amortized index structures
# other entries legitimately query (the IVF index, the LSH band/pair
# fronts) and input fixtures have no owner and stay warm, so every
# recorded number is build+serve. Consumers that run later in the
# sweep still find an owner's front warm because the owner's LAST
# timed run leaves it built. The same rule covers the streaming
# entries that persist a checkpoint per (application, sf_dir) and
# would otherwise take the restart-RECOVERY path on warm repeats:
# streaming.windows.evict_stream_state drops their state dirs (and is
# a no-op for every other entry), while the staged feed stays.


def _force_gc(spark) -> None:
    """System.gc() through the private Py4J gateway, guarded: under a
    session type with no `_jvm` (e.g. Spark Connect) the fence is
    skipped with a note instead of crashing the bench (ADVICE r12)."""
    jvm = getattr(getattr(spark, "sparkContext", None), "_jvm", None)
    if jvm is None:
        print("gc fence skipped: no JVM gateway", file=sys.stderr)
        return
    try:
        jvm.System.gc()
    except Exception as exc:  # pragma: no cover - gateway teardown race
        print(f"gc fence skipped: {exc}", file=sys.stderr)


# Scaling-evidence subset (r12 verdict "Next round" #5): the driver's
# 8-vs-32-core probe at sf0.1 shows 32 cores SLOWER for the median
# entry (sub-second queries — task scheduling and exchange overhead
# dominate), so sf0.1 cannot evidence parallel scaling at all. This
# mode runs a heavy join/agg/dedup subset at ~sf1.0 (the key-shifted
# 10x replication tests/test_scale_10x.py synthesizes) at two core
# counts in SEPARATE subprocesses (the master string is fixed per
# JVM) and records the per-entry ratio as a `scaling` block in the
# newest BENCH_LOCAL record. Entries are chosen so the warm run does
# the declared work (no result-front owners).
_SCALING_OPS = [
    "flagship_revenue_by_nation",
    "agg_hash_groupby",
    "agg_distinct_exact",
    "agg_distinct_approx",
    "join_equi_hash",
    "join_star_q5_local",
    "join_salted_skew",
    "join_score_argmax",
    "dedup_minhash_lsh",
    "dedup_ngram_prefix",
    "er_pipeline_e2e",
    "agg_market_basket",
    "evt_cusum_changepoint",
    "fin_avg_cost_basis",
    "fin_npv_schedule",
    "agg_weighted_median",
    "dq_order_totals_recon",
    "txt_pmi_pairs",
    "ml_linreg_multivar",
    "profile_cardinality_report",
]


def _scaling_worker(sf_dir: str) -> None:
    """Child process: time _SCALING_OPS at $SPARK_GRAFT_CPUS against
    ``sf_dir`` (cold discarded, best-of-2 warm — the sweep convention)
    and print one JSON line {op: {"warm": s, "cold": s}}."""
    spark = get_spark("pe-pipeline-scaling")
    registry = all_queries()
    out: dict[str, dict] = {}
    for op_id in _SCALING_OPS:
        fn = registry[op_id].fn

        def one() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        c = one()
        w = min(one(), one())
        out[op_id] = {"warm": round(w, 3), "cold": round(c, 3)}
    print("SCALING_JSON:" + json.dumps(out))
    spark.stop()


def _scaling_main() -> None:
    """Parent: synthesize/reuse the sf1.0 dir, run the worker at 32
    and 8 cores, merge a `scaling` block into the newest BENCH_LOCAL
    record (creating the file if the bench has not run this round)."""
    import subprocess

    from tests.test_scale_10x import SCALE_DIR, _build_scale_dir

    _build_scale_dir()
    per_cpus: dict[str, dict] = {}
    for cpus in ("32", "8"):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = cpus
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-worker", SCALE_DIR],
            capture_output=True,
            text=True,
            env=env,
            cwd=REPO_ROOT,
        )
        line = next(
            (
                ln[len("SCALING_JSON:"):]
                for ln in proc.stdout.splitlines()
                if ln.startswith("SCALING_JSON:")
            ),
            None,
        )
        if line is None:
            sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
            raise SystemExit(f"scaling worker at {cpus} cpus produced no record")
        per_cpus[cpus] = json.loads(line)
    block = {
        "sf_dir": SCALE_DIR,
        "note": (
            "warm sec at ~sf1.0 (10x key-shifted replication); "
            "ratio_8_over_32 > 1 means more cores help"
        ),
        "loadavg": _loadavg(),
        "calib": _calibration_probe(),
        "cpus32": per_cpus["32"],
        "cpus8": per_cpus["8"],
        "ratio_8_over_32": {
            op: round(per_cpus["8"][op]["warm"] / per_cpus["32"][op]["warm"], 2)
            for op in per_cpus["32"]
            if per_cpus["8"].get(op, {}).get("warm")
        },
    }
    path = os.path.join(REPO_ROOT, f"BENCH_LOCAL_r{_next_round():02d}.json")
    doc = {}
    if os.path.exists(path):
        try:
            doc = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            doc = {}
    doc["scaling"] = block
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({"scaling": block}))


def _runs_after_warm(warm_run_sec: float) -> int:
    """Repeats remaining AFTER the discarded cold run + first warm
    run: one more for sub-1.5 s warm paths (total best-of-3), none
    for work-dominated multi-second entries (best-of-2)."""
    return RUNS - 2 if warm_run_sec < 1.5 else 0


def _calibration_probe(spark=None) -> dict:
    """Fixed-work host probe (r11 verdict #2): times a deterministic
    CPU-bound SHA-256 chain (~0.5 s on an idle core) and, when a
    session is supplied, a fixed sf0.001 parquet scan-to-noop.
    Recorded before AND after the sweep so environmental-window
    determinations (the r7/r9/r11 busy-window class) are quantified
    inside the artifact instead of adjudicated post-hoc from loadavg
    prose. The work is bit-identical across rounds — its wall time
    moves only with host CPU contention / frequency / IO pressure, so
    round-over-round query ratios can be read against the probe ratio."""
    import hashlib

    t0 = time.perf_counter()
    h = b"spark-graft-host-calibration"
    for _ in range(500_000):
        h = hashlib.sha256(h).digest()
    out = {"cpu_hash_sec": round(time.perf_counter() - t0, 4)}
    if spark is not None:
        t0 = time.perf_counter()
        spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet"
        ).write.format("noop").mode("overwrite").save()
        out["parquet_scan_sec"] = round(time.perf_counter() - t0, 4)
    return out


def _loadavg() -> list[float] | None:
    """1/5/15-min load at sampling time — recorded in the output so
    environmental-window determinations (the r7/r9 busy-window class)
    are self-evidencing instead of post-hoc."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    load_start = _loadavg()
    spark = get_spark("pe-pipeline-bench")
    registry = all_queries()

    # JVM/codegen warmup on the smallest sf so headline timings measure
    # the query, not first-call initialization. The r12 record's
    # position analysis showed the OLD two-query warmup (flagship +
    # one pandas-UDF entry) left the first ~100 sweep entries 1.1-1.2x
    # slow while mid-sweep matched or beat prior rounds — tiered JIT
    # (C2), codegen compile cache, shuffle/sort/broadcast machinery
    # and the Arrow serializers only warm on the code paths actually
    # exercised. So: run the ENTIRE pinned HEADLINE cohort once at
    # sf0.001 (~20 s, untimed — it spans joins, windows, streams,
    # dedup/sim, multimodal, sinks), then evict the sf0.001 staged
    # fronts so the timed sweep starts with clean cache state.
    warm_dir = "/root/testdata/sf0.001"
    warmup_errors = _warm_up(spark, registry, HEADLINE, warm_dir)

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        evict_staged,
    )

    evict_staged()
    # also warm the TARGET sf's lineitem/orders scan (OS page cache +
    # footer reads): the first timed entry otherwise pays the cold
    # filesystem once per session, which the old uniform best-of-3
    # hid in its discarded first run
    registry["flagship_revenue_by_nation"].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    # Quiesce before the timed sweep: the full-cohort warmup leaves
    # ~380 queries' worth of dereferenced checkpoint RDDs, broadcasts
    # and shuffle files behind; their reclamation (JVM GC + the
    # ContextCleaner's async queue) must not bill to the first timed
    # entries (the first fresh-warmup record read isolated 3-6x
    # spikes on early-sweep entries that probe at r10-level alone).
    # Two forced GCs with a drain pause empty the cleaner queue; the
    # timed sweep then starts from a clean heap. Timed action per
    # entry is UNCHANGED.
    for _ in range(2):
        _force_gc(spark)
        time.sleep(4)

    calib_start = _calibration_probe(spark)

    prev = _load_prev_bench()
    prev_queries = (prev or {}).get("queries", {})

    timings, cold, errors = _sweep(
        spark, registry, _full_headline(), sf_dir, prev_queries
    )

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "calib_start": calib_start,
        "calib_end": _calibration_probe(spark),
        "cold_sec": cold,
        "errors": errors,
        "warmup_errors": warmup_errors,
    }
    if prev:
        out["prev_total"] = prev.get("value")
        out["ratio_vs_prev"] = {
            op: round(t / prev_queries[op], 2)
            for op, t in timings.items()
            if prev_queries.get(op)
        }
        # HEADLINE grows as operators are added; the apples-to-apples
        # round-over-round number is the total over queries present in
        # BOTH rounds.
        shared = [op for op in timings if prev_queries.get(op)]
        out["total_prev_scope"] = round(sum(timings[op] for op in shared), 3)
        out["prev_total_prev_scope"] = round(
            sum(prev_queries[op] for op in shared), 3
        )
    # The external driver stores only a 2000-char stdout tail, which
    # truncates the per-entry dict once HEADLINE passed ~50 entries —
    # persist the FULL result in-repo so every round keeps regression
    # visibility (r5 verdict lost per-op times for ~135 entries).
    local_path = os.path.join(REPO_ROOT, f"BENCH_LOCAL_r{_next_round():02d}.json")
    # preserve a `scaling` block a prior --scaling run merged into
    # this round's record (separate experiment, separate data dir)
    if os.path.exists(local_path):
        try:
            prior = json.load(open(local_path))
            if "scaling" in prior and "scaling" not in out:
                out["scaling"] = prior["scaling"]
        except (OSError, json.JSONDecodeError):
            pass
    with open(local_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    # Memory hygiene for anything running after the sweep in the same
    # process: drop every memoized staged index (rebuilt on next use).
    evict_staged()
    print(json.dumps(out))
    spark.stop()


def _error_text(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}"[:2000]


def _warm_up(spark, registry, ops, warm_dir: str) -> dict[str, str]:
    """Untimed warm-up: run each of ``ops`` once at ``warm_dir``.
    Returns {op: error text} for the entries that raised; the others
    still run."""
    errors: dict[str, str] = {}
    for op in ops:
        try:
            registry[op].fn(spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:
            errors[op] = _error_text(exc)
    return errors


def _sweep(spark, registry, ops, sf_dir: str, prev_queries: dict):
    """Times every entry of ``ops``: a recorded cold run, then best-of-N
    warm runs (see RUNS). Returns (timings, cold, errors): an entry
    that raises gets its error text in ``errors`` and no timing, and
    the sweep carries on with the next entry."""
    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        evict_owner,
    )
    from pe_firm_investment_database_pipeline_spark.streaming.windows import (
        evict_stream_state,
    )

    def run_once(op_id: str, fn) -> float:
        # result-front accounting (see the note above _force_gc):
        # drop the entry's OWN fronts and stream state before every
        # timed sample, so cold ≈ warm ≈ build+serve for owners
        evict_owner(op_id)
        evict_stream_state(spark, sf_dir, op_id)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    last_gc = time.monotonic()
    for op_id in ops:
        # GC fence (untimed, guide §1 isolate-the-measurement): the
        # sweep generates garbage (checkpoint blocks, broadcasts,
        # shuffle files) far faster than a 16 g heap's organic old-gen
        # GCs reclaim it, and the two observed failure modes are both
        # measurement artifacts, not query cost: (a) no forced GC →
        # uniform ~1.4x tail degradation as dead state accumulates
        # (record A this round); (b) a periodic 2-min GC timer → the
        # multi-second STW pauses land inside random entries' timed
        # runs (record B: evt_bot_score 0.9→7.1 s, code untouched).
        # Fencing BETWEEN entries every ~75 s bounds the garbage the
        # same way while billing the pause to nobody. Timed action
        # per entry is UNCHANGED.
        if time.monotonic() - last_gc > 75:
            _force_gc(spark)
            # 1 s drain pause: empirically sufficient at sf0.1 (the
            # r12 record chain shows no post-fence bleed at this
            # figure); the cleaner queue here is one entry's worth of
            # blocks, not the post-warmup 380-query backlog that the
            # 2x-GC+4s quiesce above absorbs (ADVICE r12 note).
            time.sleep(1.0)
            last_gc = time.monotonic()
        fn = registry[op_id].fn
        try:
            # cold run: pays staging/index builds — excluded from the
            # headline (see BENCH_NOTES r11 convention statement) but
            # recorded under "cold_sec" for build-inclusive visibility
            c = run_once(op_id, fn)
            best = run_once(op_id, fn)  # first warm run — keys the repeat count
            for _ in range(_runs_after_warm(best)):
                best = min(best, run_once(op_id, fn))
            prev_t = prev_queries.get(op_id)
            if prev_t and not (RATIO_BAND[0] <= best / prev_t <= RATIO_BAND[1]):
                best = min(best, run_once(op_id, fn))  # outlier pin: one more sample
        except Exception as exc:  # one failing entry must not lose the record
            errors[op_id] = _error_text(exc)
            continue
        cold[op_id] = round(c, 3)
        timings[op_id] = round(best, 3)
    return timings, cold, errors


def _next_round() -> int:
    """Round number for the in-repo bench artifact: one past the
    newest driver-recorded BENCH_r{N}.json (the driver writes r{N}
    AFTER the round's build turns, so during round N+1's build the
    newest driver file is r{N})."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def _load_prev_bench() -> dict | None:
    """Last round's bench numbers, so per-query regressions are a
    mechanical ratio check. Driver-recorded BENCH_r{N}.json wraps the
    JSON line in a dict with a raw 'tail' string — handle both."""
    import glob
    import re

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    # Prefer the in-repo full per-entry records (BENCH_LOCAL_r{K}) of
    # every round BEFORE the current one: the driver's BENCH_r{N}
    # files keep only a 2000-char stdout tail, which truncates the
    # JSON head once the sweep passed ~50 entries — resolving prev
    # through them silently fell back to the last SMALL round (26
    # queries), so the pin band and prev-scope totals compared
    # against a years-stale scope.
    def local_round_no(p: str) -> int:
        m = re.search(r"BENCH_LOCAL_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    cur = _next_round()
    local = sorted(
        (
            p
            for p in glob.glob(os.path.join(REPO_ROOT, "BENCH_LOCAL_r*.json"))
            if 0 <= local_round_no(p) < cur
        ),
        key=local_round_no,
    )
    for path in reversed(local):
        try:
            doc = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if "queries" in doc:
            return doc
    # numeric sort: lexicographic would put r10 before r2; walk back
    # from the newest round until one actually parsed (a crashed bench
    # round records no numbers — r03 — and must not mask r02's).
    paths = sorted(glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json")), key=round_no)
    for path in reversed(paths):
        try:
            doc = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if "queries" in doc:
            return doc
        m = re.search(r'\{"metric".*\}', doc.get("tail", "") or "")
        if m:
            try:
                return json.loads(m.group(0))
            except json.JSONDecodeError:
                continue
    return None


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        _scaling_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-worker":
        _scaling_worker(sys.argv[2])
    else:
        main()
