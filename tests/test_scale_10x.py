"""sf1.0 scale spot-check for the HEAVY operator family.

Converts the docstrings' 100 TB scale claims into measured evidence:
the ten most expensive registry entries run once at ~sf1.0 (10x the
bench's sf0.1) against their own DuckDB oracles, and their wall time
must grow SUB-QUADRATICALLY vs their sf0.1 time (10x data: linear =
10x, quadratic = 100x; the gate is 30x + a fixed-overhead floor, wide
enough for cache noise but far below any quadratic blowup).

No sf1.0 fixture ships with the container, so the suite synthesizes
one ONCE under /tmp by key-shifted replication of sf0.1: every fact /
dimension table is unioned 10 times with all key columns offset by
copy * (max_key + 1), preserving every FK relationship; region and
nation keep their fixed cardinality (customers of every copy reference
the same 25 nations — exactly how a real 10x corpus behaves).
Document text gets a per-copy suffix so copies are near-duplicates
(realistic for the dedup family: clusters grow, content stays
distinct); embeddings are replicated verbatim (ANN ties break on
vec_id in both engines).

Gated behind SPARK_GRAFT_SCALE=1 (and marked `scale`): the suite
moves ~10x the data of the whole rest of the test run and would
roughly double the driver's full-pytest wall time. Run it with:

    SPARK_GRAFT_SCALE=1 python -m pytest tests/test_scale_10x.py -q

Results of the latest run are recorded in-repo in SCALE_r{N}.json.
"""

from __future__ import annotations

import json
import os
import time

import duckdb
import pytest

from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
    evict_owner,
)
from pe_firm_investment_database_pipeline_spark.plans import all_queries
from pe_firm_investment_database_pipeline_spark.streaming.windows import (
    evict_stream_state,
)
from tools.driver_sim import check, oracle_conn

pytestmark = [
    pytest.mark.scale,
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_SCALE") != "1",
        reason="10x-scale suite: set SPARK_GRAFT_SCALE=1 to run",
    ),
]

SF01 = "/root/testdata/sf0.1"
COPIES = 10
SCALE_DIR = "/tmp/pe_scale10x_sf1"

# The ten most expensive entries per the r5 bench tail, i.e. the ones
# whose plans carry the strongest at-scale claims (VERDICT r5 #8).
HEAVY = [
    "snk_partition_overwrite",
    "sql_recursive_cte",
    "graph_pagerank",
    "evt_cusum_changepoint",
    "curation_pipeline_e2e",
    "dedup_minhash_lsh",
    "sim_ann_join_indexed",
    "rag_hybrid_rrf",
    "evt_streaks",
    "agg_bitmap_distinct",
    # round-6 additions with at-scale claims of their own
    "graph_cc_incremental",
    "rag_mmr_rerank",
    "txt_rake_keywords",
    # late-r6 additions with at-scale claims
    "graph_common_neighbors",
    "ml_kmeans_fixed",
    "sketch_freq_heavy",
    "snk_bucketed_join",
    "txt_bigram_prob",
    "agg_market_basket",
    "ml_pca_power",
    "txt_pmi_pairs",
    # r7 additions (VERDICT r6 #6): newest heavies not yet measured
    "dedup_method_compare",
    "agg_weighted_median",
    "evt_ltv_expected",
    "ml_cluster_medoid",
    "stream_join_interval_outer",
    # r7 wave entries with at-scale claims of their own
    "graph_bfs_distance",
    "dq_fk_orphans",
    "samp_kcenter_coreset",
    "join_dpp_prune",
    "ml_auc_rank",
    # r7 wave 4-9 entries with at-scale claims: the wedge join
    # (sum deg^2), the LPA frontier joins, the staged-kNN self-join
    # composition, the per-user interval merge, and the chunk-
    # fingerprint anti-join all carry explicit 100 TB shape claims
    "graph_clustering_coeff",
    "graph_label_propagation",
    "graph_assortativity",
    "sim_reciprocal_nn",
    "win_interval_merge",
    "txt_boilerplate_strip",
    # r8 wave entries with at-scale claims: the ROLLUP ladder, the
    # 64x posexplode centroid pass, the value-grid W1 windows, the
    # per-user gap windows, the one-scan bootstrap, and the
    # vocab-graph TextRank iterations
    "sec_k_anonymity",
    "profile_embedding_drift",
    "profile_wasserstein_drift",
    "dq_gap_inventory",
    "ml_bootstrap_ci",
    "txt_keyphrase_textrank",
    "graph_modularity",
    "evt_cuped_adjust",
    # late-r8 waves with at-scale claims: the unrolled LTTB chain,
    # the word-frequency BPE round, oriented HITS, and the
    # matryoshka pair table
    "ts_downsample_lttb",
    "txt_bpe_train_step",
    "graph_hits_authority",
    "sim_matryoshka_recall",
    # final r8 wave: the per-customer allocation window, the nested-
    # cap admission (one event-sized shuffle claim), the full-corpus
    # Arrow NFC pass, the three-file-generation txn log, and the
    # order-grid skyline window
    "fin_fifo_allocation",
    "evt_frequency_capping",
    "txt_unicode_nfc_audit",
    "snk_txn_log_snapshot",
    "agg_skyline_2d",
    # wave D/E: the blocked ER self-join (Σ block² claim), the
    # per-user recursive fold, and the 3x-events bitemporal argmax
    "er_pipeline_e2e",
    "ts_ewma_irregular",
    "join_bitemporal",
    # wave F-H: the shard-bounded packing fold, the per-type lateness
    # window, and the seeded Pregel iterations
    "pack_sequences_nfd",
    "dq_late_arrival_report",
    "graph_ppr_single_source",
    # wave J-L: the Σ multiplicity² blocked audit, the banded-DP
    # fold, and the order-statistic + coverage join
    "dq_duplicate_payments",
    "ts_dtw_distance",
    "ml_conformal_interval",
    # final r8 wave (VERDICT r8 #3): the cooldown greedy fold, the
    # dual-EWMA fold, the strata grids, the one-scan 20-permutation
    # test, the day-grid pair joins, the coalition one-scan Shapley,
    # the rotating-season fold, and the confusion-count MCC
    "evt_alert_debounce",
    "ts_croston_intermittent",
    "evt_att_stratified",
    "ml_permutation_test",
    "ml_kendall_tau",
    "ml_spearman_rank",
    "evt_attribution_shapley",
    "ts_holt_winters",
    "ml_mcc_matthews",
    # round-9 wave: the corpus bigram-LM explode + join, the two-pass
    # BM25 with feedback mining, the per-supplier monthly cost fold,
    # the day-grid Kalman fold, and the DP grid mechanism
    "txt_doc_perplexity",
    "rag_query_expansion",
    "fin_avg_cost_basis",
    "ts_kalman_1d",
    "sec_dp_geometric",
    "ml_decision_stump",
    # r10 heavy-tail closure (VERDICT r9 #6): every entry reading
    # >1.5 s at sf0.1 in the official r9 record now carries sf1.0
    # evidence — the physical sinks, the streaming state entries,
    # the banded simhash/prefix joins, and the staged SCD2 front
    "snk_compact_files",
    "dedup_simhash",
    "snk_retention_vacuum",
    "join_scd2_asof",
    "merge_scd2",
    "stream_late_append",
    "agg_distinct_approx",
    "stream_join_interval",
    "samp_hard_negatives",
    "profile_ks_drift",
    "sketch_kmv_setops",
    "stream_dedup_watermarked",
    "dedup_ngram_prefix",
    "stream_distinct_users",
    "stream_custom_state",
    "ts_outlier_repair",
    "flagship_revenue_by_nation",
    "sql_correlated_subquery",
    # round-10 wave: the one-corpus-pass BPE loop and the discounted
    # grid rollup
    "txt_bpe_merge_rounds",
    "fin_npv_schedule",
    # re-landed-record heavy-tail closure: entries newly over 1.5 s
    # at sf0.1 in the 262 s record (the staged fronts pushed the old
    # heavies below these)
    "agg_distinct_exact",
    "agg_metric_decompose",
    "stream_topk_windowed",
    # round-11 wave: the passage pair-miner (planted clones grow its
    # pair output quadratically BY CONSTRUCTION — the documented
    # dedup-family property), the NB corpus classifier, the two
    # corpus-rollup finance folds, and the two-level binseg
    "dedup_passage_runs",
    "dedup_passage_overlap",
    "ml_naive_bayes",
    "fin_irr_bisection",
    "fin_loan_amortization",
    "ts_changepoint_binseg",
    "samp_dsir_importance",
    "dedup_semdedup",
    "evt_att_nn_matching",
    # round-11b wave: the compressed-grid ntile + decile rollup, the
    # one-round synchronous Louvain (adjacency join + community-grid
    # broadcasts), the vocab x |Q| MaxSim dot table, and the
    # single-pass CDC chunker (pure array compute + one fp groupBy)
    "evt_uplift_qini",
    "graph_louvain_move",
    "rag_late_interaction",
    "dedup_cdc_chunks",
    # round-11b second wave: the day-grid pair table + 5-type MM
    # iteration, and the calendar-bounded all-pairs subsequence join
    "ml_bradley_terry",
    "ts_matrix_profile",
    # round-11b third wave: the real-codec Arrow decode legs
    "mm_decode_ppm",
    "mm_decode_wav",
    # heavy-tail closure for the (elevated-window) r11 record: the
    # four >1.5 s readings without sf1.0 rows — the star join and the
    # three windowed-streaming entries (fixed state-store cost)
    "join_star_q5_local",
    "stream_session",
    "stream_sliding",
    "stream_tumbling",
    # exact micro-bits PSI: one event scan + type-grid expressions
    "profile_psi_bits",
    # tokenizer fertility: one doc scan, language-grid output
    "txt_tokenizer_fertility",
    # Markov pair: one user-axis lag window + grid expressions
    "evt_path_entropy",
    "evt_markov_absorption",
    # join-view IVM: delta-sized joins + nation-grid merge
    "ivm_join_delta",
    # attribution-window banded join + the fold grid
    "evt_attribution_multitouch",
    "samp_walkforward_cv",
    # bloom-sketch PSI: one scan -> per-user rollup -> <= m-bit sets
    "sec_bloom_psi",
    # round-12: the stdlib-zlib PNG leg (per-doc Python encode +
    # inflate/unfilter decode — embarrassingly parallel, doc-linear)
    "mm_decode_png",
    # round-12 second wave: the baseline-JFIF Huffman leg (same
    # embarrassingly-parallel per-doc shape)
    "mm_decode_jpeg",
    # r12 heavy-tail closure: four entries entered the 1.5-1.8 s band
    # in the committed clean-window record (early-sweep cold-start
    # band; all ~1.1-1.4 s in r10) — rows close the governing-record
    # invariant regardless of which side of 1.5 s they settle on
    "math_score_rank",
    "portco_pipeline_e2e",
    "profile_cardinality_report",
    "udaf_grouped_pandas",
    # Louvain phase 2: label joins + community-grid aggregate
    "graph_coarsen_communities",
    # heavy-tail closure for the r14 record: the five >1.5 s readings
    # without sf1.0 rows — the k-core peel rounds, the salted skew
    # join, the argmax staircase, the Python stream source and the
    # LSH streaming dedup
    "graph_kcore_peel",
    "join_salted_skew",
    "join_score_argmax",
    "src_python_stream_source",
    "stream_dedup_lsh",
]

# (table, [key columns shifted by copy * (max(first key col) + 1)]).
# Key spaces are independent per table, but FK columns must shift by
# the REFERENCED table's span — handled explicitly below.
_SPANS_SQL = {
    "customer": "SELECT max(c_custkey) + 1 FROM read_parquet('{d}/customer.parquet')",
    "supplier": "SELECT max(s_suppkey) + 1 FROM read_parquet('{d}/supplier.parquet')",
    "part": "SELECT max(p_partkey) + 1 FROM read_parquet('{d}/part.parquet')",
    "orders": "SELECT max(o_orderkey) + 1 FROM read_parquet('{d}/orders.parquet')",
    "events_id": "SELECT max(event_id) + 1 FROM read_parquet('{d}/events.parquet')",
    "events_user": "SELECT max(user_id) + 1 FROM read_parquet('{d}/events.parquet')",
    "documents": "SELECT max(doc_id) + 1 FROM read_parquet('{d}/documents.parquet')",
    "embeddings": "SELECT max(vec_id) + 1 FROM read_parquet('{d}/embeddings.parquet')",
}


def _build_scale_dir() -> None:
    os.makedirs(SCALE_DIR, exist_ok=True)
    marker = os.path.join(SCALE_DIR, ".done")
    if os.path.exists(marker):
        return
    con = duckdb.connect()
    spans = {
        k: con.execute(sql.format(d=SF01)).fetchone()[0]
        for k, sql in _SPANS_SQL.items()
    }
    # fixed-cardinality dims: verbatim copy
    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF01}/{t}.parquet')) "
            f"TO '{SCALE_DIR}/{t}.parquet' (FORMAT PARQUET)"
        )
    # Per-table key-shift expressions; every untouched column passes
    # through VERBATIM in source order (derived from DESCRIBE below),
    # so a fixture-schema drift can't silently drop a column here.
    shifts = {
        "customer": {"c_custkey": "c_custkey + i * {customer}"},
        "supplier": {"s_suppkey": "s_suppkey + i * {supplier}"},
        "part": {"p_partkey": "p_partkey + i * {part}"},
        "orders": {
            "o_orderkey": "o_orderkey + i * {orders}",
            "o_custkey": "o_custkey + i * {customer}",
        },
        "lineitem": {
            "l_orderkey": "l_orderkey + i * {orders}",
            "l_partkey": "l_partkey + i * {part}",
            "l_suppkey": "l_suppkey + i * {supplier}",
        },
        "events": {
            "event_id": "event_id + i * {events_id}",
            "user_id": "user_id + i * {events_user}",
        },
        "documents": {
            "doc_id": "doc_id + i * {documents}",
            "text": "CASE WHEN i = 0 THEN text "
            "ELSE text || ' copy' || i END",
            "n_chars": "CASE WHEN i = 0 THEN n_chars "
            "ELSE n_chars + length(' copy' || i) END",
        },
        "embeddings": {"vec_id": "vec_id + i * {embeddings}"},
    }
    for t, shift in shifts.items():
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SF01}/{t}.parquet')"
        ).fetchall()
        missing = set(shift) - {c[0] for c in cols}
        assert not missing, (t, missing)
        sel = ", ".join(
            f"CAST({shift[name].format(**spans)} AS {dtype}) AS {name}"
            if name in shift
            else name
            for name, dtype, *_ in cols
        )
        con.execute(
            f"""COPY (
              WITH t AS (SELECT * FROM read_parquet('{SF01}/{t}.parquet')),
              copies AS (SELECT unnest(range({COPIES})) AS i)
              SELECT {sel} FROM t CROSS JOIN copies
            ) TO '{SCALE_DIR}/{t}.parquet' (FORMAT PARQUET)"""
        )
    open(marker, "w").write("ok")


@pytest.fixture(scope="module")
def scale_dir() -> str:
    _build_scale_dir()
    return SCALE_DIR


@pytest.fixture(scope="module")
def con_scale(scale_dir):
    c = oracle_conn(scale_dir)
    yield c
    c.close()


@pytest.fixture(scope="module")
def results():
    res: dict[str, dict] = {}
    yield res
    # persist measured evidence in-repo; MERGE with prior entries so a
    # targeted re-run of a few ops doesn't drop the others' evidence
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_LOCAL.json",
    )
    merged: dict[str, dict] = {}
    try:
        with open(out) as f:
            merged = json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    merged.update(res)
    with open(out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)


@pytest.mark.parametrize("op_id", HEAVY)
def test_heavy_entry_at_sf1(spark, con_scale, results, op_id, scale_dir):
    spec = all_queries()[op_id]

    def timed(sf):
        # time the build, not a cache read: drop the entry's own result
        # fronts and stream state before every sample, as bench.py does
        evict_owner(op_id)
        evict_stream_state(spark, sf, op_id)
        t0 = time.perf_counter()
        spec.fn(spark, sf).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timed(SF01)  # warm staging/index at the small scale
    t_small = timed(SF01)
    timed(scale_dir)  # warm staging/index at 10x
    t_big = timed(scale_dir)
    results[op_id] = {"sf0.1_sec": round(t_small, 3), "sf1_sec": round(t_big, 3)}
    # correctness still holds at 10x
    check(
        f"{op_id}@sf1",
        spec.fn(spark, scale_dir).toPandas(),
        con_scale.sql(spec.oracle).df(),
    )
    # sub-quadratic growth: quadratic would be ~100x; allow 30x plus a
    # 3 s fixed-overhead floor (streaming checkpoints, shuffle setup)
    assert t_big <= 30.0 * t_small + 3.0, (op_id, t_small, t_big)
