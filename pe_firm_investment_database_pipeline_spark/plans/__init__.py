"""Named query plans. ``all_queries()`` is the merged §2 inventory."""

from __future__ import annotations

from ..registry import QuerySpec, merge


def all_queries() -> dict[str, QuerySpec]:
    from ..streaming import stateful as streaming_stateful
    from ..streaming import windows as streaming_windows
    from . import (
        advanced_aggs,
        components,
        datapipe,
        enrichment,
        io_ops,
        matching,
        multimodal,
        quality,
        reference_scalars,
        relational,
        retrieval,
        seed_pipeline,
        sessions,
        similarity,
        textops,
    )

    # Order matters operationally: the external driver records
    # correctness entries in registry order and caps each round at the
    # first ~50 (observed r01-r05). Round-6 rotation (VERDICT r5 'Next
    # round' #1-#2): the three entries repaired this round go first
    # (r5's two driver hash-fails + the restructured now-oracled HLL
    # rollup), then the 25 entries that have never received an
    # official driver verdict, then round-6's new ops. Everything
    # else keeps module order.
    merged = merge(
        retrieval.QUERIES,
        quality.QUERIES,
        datapipe.QUERIES,
        textops.QUERIES,
        similarity.QUERIES,
        seed_pipeline.QUERIES,
        matching.QUERIES,
        streaming_windows.QUERIES,
        multimodal.QUERIES,
        io_ops.QUERIES,
        reference_scalars.QUERIES,
        sessions.QUERIES,
        advanced_aggs.QUERIES,
        components.QUERIES,
        streaming_stateful.QUERIES,
        relational.QUERIES,
        enrichment.QUERIES,
    )
    priority = [
        # Round-12 rotation (VERDICT r11 'Next round' #7): the union
        # is 412/412 latest-green, so this round re-verdicts every
        # entry whose PHYSICAL PLAN changed after the r11 sample.
        # Slots 1-2: the two new r12 ops (first driver verdicts).
        "mm_decode_png",
        "mm_decode_jpeg",
        # Slots 2-6: plans edited this round — the PSI share clamp,
        # the IVM broadcast-hint removal, the Bradley-Terry assertive
        # games bound, and the two Louvain consumers of the newly
        # staged _louvain_moved checkpoint front.
        "profile_psi_bits",
        "ivm_join_delta",
        "ml_bradley_terry",
        "graph_louvain_move",
        "graph_coarsen_communities",
        # Slots 7-9: r11-verdict-ordered re-verdicts — the er
        # checkpoint flip and the two KMV consumers of the
        # _kmv_hashed staged front (both landed after the r11
        # sample window).
        "er_pipeline_e2e",
        "sketch_kmv_setops",
        "sketch_kmv_distinct",
        # r12 in-round perf fix (slate checkpoints): re-verdict
        "rag_query_expansion",
        # r12 in-round ANN-result front ("ann_result" in similarity):
        # all four consumers' plans changed — re-verdict officially.
        "sim_ann_join",
        "rag_retrieve_docs",
        "rag_hybrid_rrf",
        "samp_hard_negatives",
        # r12 in-round one-fact-pass rewrite: re-verdict
        "agg_hll_rollup",
        # r12 third-session scan-count fixes (small-slate checkpoints
        # of multi-referenced frames): all eight plans changed —
        # re-verdict officially. sec_bloom_psi is also a late-r11b op
        # sampled officially only once.
        "sql_null_semantics_matrix",
        "sketch_cms_heavy",
        "ml_eval_confusion",
        "profile_embedding_drift",
        "sim_pq_topk",
        "evt_att_nn_matching",
        "evt_uplift_qini",
        # r12 third-session batches 2-3 of the same sweep (all plans
        # changed; grid/slate checkpoints + sufficient-statistic
        # restructures): re-verdict officially.
        "ml_kendall_tau",
        "ts_forecast_snaive",
        "ts_pct_change_wow",
        "evt_stickiness_dau_mau",
        "ml_chi2_feature_select",
        "shard_by_token_budget",
        "curation_pipeline_e2e",
        "shard_manifest",
        "sim_matryoshka_recall",
        "mm_phash_neardup",
        "agg_pareto_abc",
        "agg_metric_decompose",
        "evt_audience_overlap",
        "evt_active_users",
        "evt_cohort_triangle",
        "evt_time_to_convert",
        "evt_attribution_shapley",
        "sec_t_closeness",
        "txt_bigram_prob",
        "txt_doc_perplexity",
        "samp_pps_systematic",
        "samp_interleave_wfq",
        "txt_tfidf_topterms",
        # r12 fourth-session optimizations (union-min label
        # propagation, PK-keyset distinct removal, dA-side component
        # merge, passage-run result front): all plans changed —
        # re-verdict officially. (ivm_join_delta and er_pipeline_e2e
        # are already queued above for their earlier edits; the new
        # plans supersede.)
        "dq_fk_orphans",
        "dedup_passage_runs",
        "dedup_passage_overlap",
        # r12 fifth-session-tail optimizations (banded threshold
        # levenshtein; single-eval struct folds): all plans changed —
        # re-verdict officially. (er_pipeline_e2e queued above.)
        "join_fuzzy_name",
        "ts_holt_linear",
        "ts_holt_winters",
        "ts_kalman_1d",
        "ts_croston_intermittent",
        "ts_ewma_irregular",
        "fin_avg_cost_basis",
        "pack_sequences_nfd",
        # Late-r11b ops sampled officially only once
        # (added in the final r11 commits).
        "sec_bloom_psi",
        "evt_attribution_multitouch",
        "samp_walkforward_cv",
        "ts_matrix_profile",
        # Everything else keeps module order after the list.
    ]
    assert all(name in merged for name in priority), "stale priority list"
    return {
        **{name: merged[name] for name in priority},
        **{k: v for k, v in merged.items() if k not in priority},
    }
