"""Scale properties of the similarity/dedup blocking keys.

The round-1 verdict flagged four ops whose candidate generation
bucketed on constant-cardinality keys (label, 4-bit simhash bands,
3-bit IVF cells) — correct at sf0.01, quadratic at 100 TB. These
tests pin the fix: bucket counts must GROW with the input, the
candidate joins must stay equi-joins, and blocking must not cost
recall on planted duplicates.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from pe_firm_investment_database_pipeline_spark.plans import (
    all_queries,
    similarity as S,
    textops as T,
)

_Q = all_queries()


def _plan(spark, op_id: str, sf_dir: str) -> str:
    df = _Q[op_id].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nbits(spark, formula: str, n: int) -> int:
    return (
        spark.range(1)
        .select(F.lit(n).alias("n"))
        .select(F.expr(formula).alias("nb"))
        .first()[0]
    )


def test_nbits_grows_with_corpus(spark):
    """Cell count = 2^nbits must scale with N: ~N/32 cells for pair
    blocking, ~sqrt(N) cells for IVF — never a constant. The round-2
    16-bit cap re-quadratized past ~2M rows; the signature is now 62
    bits wide, so growth must continue well past 2^30 rows."""
    pair = [_nbits(spark, S._NBITS_PAIR, n) for n in (64, 4096, 1 << 20, 1 << 30)]
    assert pair == [1, 7, 15, 25]  # doubles per 2x input, NO 16-bit cap
    assert _nbits(spark, S._NBITS_PAIR, 1 << 30) > 16
    assert _nbits(spark, S._NBITS_PAIR, 1 << 50) == 45  # still growing
    ivf = [_nbits(spark, S._NBITS_IVF, n) for n in (64, 4096, 1 << 20, 1 << 30)]
    assert ivf == [3, 6, 10, 15]  # ~log2(sqrt(N))
    assert _nbits(spark, S._NBITS_IVF, 1 << 40) == 20  # past the old cap
    # empty/tiny inputs must not hit log2(0) (ANSI cast of -Inf errors)
    assert _nbits(spark, S._NBITS_PAIR, 0) == 1
    assert _nbits(spark, S._NBITS_IVF, 0) == 3


def test_occupied_cells_grow_with_input(spark, sf_dir):
    """Not just the formula — OCCUPIED cells must multiply when the
    corpus does (the hyperplane bits are data-spread, not degenerate)."""
    emb = S._emb_q(spark, sf_dir)
    small = S._celled(emb.where(F.col("vec_id") < 100), S._NBITS_PAIR)
    full = S._celled(emb, S._NBITS_PAIR)
    n_small = small.select("cell").distinct().count()
    n_full = full.select("cell").distinct().count()
    assert n_full > n_small
    # every formula-provided cell is actually populated at this scale
    nbits_full = full.select("nbits").first()[0]
    assert n_full == (1 << nbits_full)


def test_signature_not_degenerate(spark, sf_dir):
    """Regression guard for the constant-plane bug: the 62-bit
    signature must take many distinct values, not collapse to the
    sign of sum(q)."""
    emb = S._emb_q(spark, sf_dir).withColumn("sig", S._sig_col(F.col("q")))
    n = emb.count()
    nsig = emb.select("sig").distinct().count()
    assert nsig > n // 2


def test_dedup_blocking_has_full_recall_on_planted_pairs(spark, sf_dir):
    """Identical embeddings always share a cell, so LSH blocking finds
    every planted duplicate: exactly one pair per original vector."""
    n = S._emb_q(spark, sf_dir).count()
    assert S.dedup_embedding_cosine(spark, sf_dir).count() == n


def test_shard_block_width_scales(spark, sf_dir):
    """shard_by_token_budget's only sequential step is the window over
    block totals; block width ~ sqrt(N) keeps that table ~sqrt(N) rows.
    A fixed width would put N/width rows through one partition."""
    from pe_firm_investment_database_pipeline_spark.plans import datapipe as D

    def width(n, mx=None):
        if mx is None:
            mx = n - 1 if n else None  # dense 0..n-1 ids
        return (
            spark.range(1)
            .select(F.lit(n).alias("n"), F.lit(mx).cast("long").alias("mx"))
            .select(F.expr(D._SHARD_BLOCK_WIDTH).alias("w"))
            .first()[0]
        )

    assert width(0) == 1  # empty corpus must not divide by zero
    assert width(10**6) == 1000
    assert width(10**12) == 10**6  # 1e12 docs -> 1e6-row offsets window
    # SPARSE ids: max_id >> N must not inflate the block count — the
    # id range is cut into ~sqrt(N) spans regardless of density
    w = width(10**6, 10**12)
    assert (10**12 + 1) / w <= 1001  # <= ~sqrt(N) blocks, not 1e9

    # and the distributed cumsum must equal the naive sequential one
    rows = (
        D.shard_by_token_budget(spark, sf_dir)
        .orderBy("doc_id")
        .collect()
    )
    assert rows
    running = 0
    for r in rows:
        assert r["tokens_before"] == running, r
        assert r["shard"] == running // D._BUDGET, r
        running += r["n_tokens"]


def test_ivf_recall_on_planted_neighbors(spark, sf_dir):
    """The sampled-centroid quantizer must not cost recall on true
    neighbors: plant an identical copy of every vector (vec_id +
    1_000_000); identical vectors always rank centroids identically,
    so the copy lands in the query's own (always-probed) cell and must
    come back as the rank-1 neighbor at cosine 1.0 for every query."""
    emb = S._emb_q(spark, sf_dir)
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "q", "nrm"
    )
    res = S._ivf_topk(emb.unionByName(planted), F.col("vec_id") < 20)
    top1 = {
        r["query_id"]: (r["nbr_id"], r["cosine"])
        for r in res.where(F.col("nn_rank") == 1).collect()
    }
    assert set(top1) == set(range(20))
    for qid, (nbr, cos) in top1.items():
        assert nbr == qid + 1000000, (qid, nbr)
        assert abs(cos - 1.0) < 1e-12


def test_ann_join_recall(spark, sf_dir):
    """Two-relation ANN join: plant an identical copy of every corpus
    vector and query with a sample of the ORIGINALS as an independent
    query relation. An identical vector ranks centroids identically,
    so the copy lives in the query's first-probed cell — the planted
    neighbor must come back at rank 1, cosine 1.0, for >= 0.9 of the
    queries (it is exact here, but the contract is recall >= 0.9)."""
    emb = S._emb_q(spark, sf_dir)
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "q", "nrm"
    )
    corpus = emb.unionByName(planted)
    queries = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    n_queries = queries.count()
    res = S._ann_join(corpus, queries)
    top1 = {
        r["query_id"]: (r["nbr_id"], r["cosine"])
        for r in res.where(F.col("nn_rank") == 1).collect()
    }
    assert len(top1) == n_queries
    hits = sum(
        1
        for qid, (nbr, cos) in top1.items()
        if nbr == qid + 1000000 and abs(cos - 1.0) < 1e-12
    )
    assert hits >= 0.9 * n_queries, (hits, n_queries)


def test_simhash_band_keys_scale(spark, sf_dir):
    """4x16-bit bands: the occupied (band, bits) key count must exceed
    the old 4x4-bit scheme's ENTIRE key space (64), proving the join
    key cardinality now grows with the corpus."""
    d = T.load_table(spark, sf_dir, "documents")
    sigs = (
        d.select("doc_id", F.expr(T._TOKENS).alias("toks"))
        .select(
            "doc_id",
            F.expr("transform(array_distinct(toks), t -> md5(t))").alias("hs"),
        )
        .select("doc_id", F.expr(T._SIMHASH64).alias("sig"))
    )
    keys = sigs.select(
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> "
                "struct(b AS band, element_at(sig, b + 1) AS bits))"
            )
        ).alias("bk")
    ).select("bk.band", "bk.bits")
    assert keys.distinct().count() > 64


def test_prefix_filter_recall_is_exact(spark):
    """dedup_ngram_prefix must equal the BRUTE-FORCE pairwise Jaccard
    join (no candidate pruning at all) — the prefix filter's exactness
    guarantee, which the _DF_CAP variant deliberately trades away."""
    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc1"], r["doc2"])
        for r in _Q["dedup_ngram_prefix"].fn(spark, sf).collect()
    }
    sh = T._shingled(spark, sf)
    a = sh.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    b = sh.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("long")
    jac = inter.cast("double") / (
        F.size("sh1") + F.size("sh2") - inter
    ).cast("double")
    brute = {
        (r["doc1"], r["doc2"])
        for r in a.crossJoin(b)
        .where(F.col("doc1") < F.col("doc2"))
        .where(jac >= 0.8)
        .collect()
    }
    assert got == brute
    assert brute  # non-vacuous: the corpus has planted near-dups


def test_approx_distinct_accuracy(spark, sf_dir):
    """agg_distinct_approx's r7 shape emits the exact count + est_ok
    bound flag (full oracle); the raw HLL++ estimate's accuracy is
    checked HERE: at rsd=0.02 it must land within 3x the target rsd
    of the exact per-group distinct count (slack because rsd is a
    standard deviation, not a hard bound), and the entry's own flag
    must report 1 everywhere."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

    rows = _Q["agg_distinct_approx"].fn(spark, sf_dir).collect()
    assert rows and all(r["est_ok"] == 1 for r in rows)
    exact = {r["l_returnflag"]: r["exact_distinct_parts"] for r in rows}
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, n in exact.items():
        assert abs(approx[flag] - n) <= max(2, 0.06 * n), (flag, approx[flag], n)


def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark):
    """Skew robustness of the shingle join: plant a power-law shingle
    (one 'stop' shingle shared by ALL docs — the 100x-scale failure
    the uniform bench data never exercises). Naively that one key
    creates C(N,2) pairs through a single reducer; the DF-cap must
    (a) keep every per-shingle doc list at <= _DF_CAP entries (the
    bounded-state guarantee — no task ever materializes the hot
    key's pair explosion) and (b) still find the planted near-dup
    pairs, which share only rare shingles."""
    from pe_firm_investment_database_pipeline_spark.plans import textops as T

    n_docs = 300
    rows = []
    for d in range(n_docs):
        rows.append((d, 0))  # the hot shingle: in EVERY doc
        # 20 further shingles; planted near-dup: docs 2k/2k+1 (k<10)
        # share all 20 (the operator's jaccard counts only RARE
        # shared shingles — 20/(21+21-20) = 0.909 >= 0.8 — while the
        # hot shingle is excluded from pair generation entirely)
        base = (d // 2) * 100 if d < 20 else d * 100
        rows.extend((d, 1000 + base + j) for j in range(20))
    sh = spark.createDataFrame(rows, "doc_id BIGINT, s BIGINT")

    # the hot key really is planted (sanity for assertion b)
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    assert dfs.agg(F.max("df")).first()[0] == n_docs

    # (a) bounded candidate generation, asserted on the OPERATOR's
    # own pair stage: the hot shingle must contribute zero candidate
    # pairs — 10 planted pairs, not 10 + C(300,2). (With the cap
    # removed this is ~44k rows, so the assertion fails loudly.)
    assert T._shared_shingle_counts(sh).count() == 10

    # (b) pairs: exactly the 10 planted near-dups, never the
    # C(300,2) hot-key explosion
    got = T._jaccard_pairs_from_shingles(sh).collect()
    assert {(r["doc1"], r["doc2"]) for r in got} == {
        (2 * k, 2 * k + 1) for k in range(10)
    }
    for r in got:
        assert abs(r["jaccard"] - 20.0 / 22.0) < 1e-12


def test_containment_catches_excerpts_jaccard_misses(spark):
    """The asymmetric-overlap rationale: a 10-shingle excerpt fully
    contained in a 100-shingle document has Jaccard 0.1 (below any
    useful threshold) but containment 1.0. The Jaccard join must NOT
    pair them; the shared-counts front half must yield exactly the
    numbers the containment op thresholds on."""
    from pe_firm_investment_database_pipeline_spark.plans import textops as T

    rows = [(1, s) for s in range(10)] + [(2, s) for s in range(100)]
    sh = spark.createDataFrame(rows, "doc_id BIGINT, s BIGINT")
    counts = T._shared_shingle_counts(sh).collect()
    assert len(counts) == 1
    r = counts[0]
    assert (r["doc1"], r["doc2"], r["i"], r["na"], r["nb"]) == (1, 2, 10, 10, 100)
    assert r["i"] / min(r["na"], r["nb"]) == 1.0  # containment: certain pair
    assert T._jaccard_pairs_from_shingles(sh).count() == 0  # jaccard: blind


def test_salted_agg_bounds_hot_key(spark):
    """Skew robustness of the two-phase salted aggregation: plant a
    key holding ~96% of all rows. Phase 1 must spread it across all
    _SALTS partials with no partial exceeding ~1/_SALTS of the hot
    rows (the max-reducer-input bound a direct groupBy lacks), and
    the final result must equal the direct aggregation exactly."""
    from pe_firm_investment_database_pipeline_spark.plans import advanced_aggs as A

    n_hot, n_cold = 8000, 300
    rows = [("HOT", i % A._SALTS, 100 + (i % 7)) for i in range(n_hot)]
    rows += [(f"C{i % 3}", i % A._SALTS, 50 + i % 11) for i in range(n_cold)]
    df = spark.createDataFrame(
        rows, "l_returnflag STRING, salt INT, price_c BIGINT"
    )
    phase1, final = A._salted_phases(df)
    parts = {
        (r["l_returnflag"], r["salt"]): r["part_n"] for r in phase1.collect()
    }
    hot_parts = [n for (k, _), n in parts.items() if k == "HOT"]
    assert len(hot_parts) == A._SALTS  # spread over every salt
    assert max(hot_parts) <= (n_hot // A._SALTS) + 1  # bounded partials

    got = {r["l_returnflag"]: (r["total_price"], r["n_items"]) for r in final.collect()}
    want = {
        r["l_returnflag"]: (r["tp"], r["n"])
        for r in df.groupBy("l_returnflag")
        .agg((F.sum("price_c") / 100.0).alias("tp"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_approx_percentile_error_bound(spark, sf_dir):
    """agg_percentile_approx (rows-only at the driver gate) gets its
    value-level check here: Greenwald-Khanna with accuracy=A guarantees
    the returned element's RANK is within n/A of the target rank.
    Verify that bound per group against the exact value distribution
    (small absolute slack for boundary/duplicate effects)."""
    import bisect

    from pe_firm_investment_database_pipeline_spark.plans import advanced_aggs as A
    from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

    entry_rows = _Q["agg_percentile_approx"].fn(spark, sf_dir).collect()
    assert entry_rows and all(r["ap_ok"] == 1 for r in entry_rows)
    acc = A._APPROX_PCT_ACCURACY
    approx = {
        r["o_orderpriority"]: {
            "0.5": r["ap50"], "0.9": r["ap90"], "0.99": r["ap99"]
        }
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            *[
                (
                    F.expr(
                        "approx_percentile(CAST(round(o_totalprice * 100)"
                        f" AS BIGINT), {q}, {acc})"
                    )
                    / 100.0
                ).alias(f"ap{int(q * 100)}")
                for q in (0.5, 0.9, 0.99)
            ]
        )
        .collect()
    }
    exact_vals: dict[str, list[float]] = {}
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    ):
        exact_vals.setdefault(r["o_orderpriority"], []).append(
            round(r["o_totalprice"] * 100) / 100.0
        )
    assert set(approx) == set(exact_vals)
    eps = 1.0 / A._APPROX_PCT_ACCURACY
    for prio, vals in exact_vals.items():
        vals.sort()
        n = len(vals)
        for p_str, v in approx[prio].items():
            p = float(p_str)
            # rank window of the returned value among the exact values
            lo = bisect.bisect_left(vals, v - 1e-9)
            hi = bisect.bisect_right(vals, v + 1e-9)
            target = p * n
            assert lo - 2 <= target + eps * n and hi + 2 >= target - eps * n, (
                prio, p, v, lo, hi, n
            )


@pytest.mark.parametrize(
    "op_id",
    ["sim_knn_blocked", "sim_knn_blocked_full", "sim_ivf_multiprobe",
     "sim_ann_join", "dedup_embedding_cosine", "dedup_simhash"],
)
def test_candidate_joins_are_equi_not_cross(spark, sf_dir, op_id):
    """The row-pairing join must be a hash/merge EQUI-join on the
    blocking key. (The similarity ops also contain one
    BroadcastNestedLoopJoin — the 1-row nbits scalar glued onto the
    scan — which is fine; a CartesianProduct of data rows is not.)
    sim_ann_join is asserted on its BUILDER: the registry entry
    serves the memoized result checkpoint (the "ann_result" front), whose
    plan is a lineage-free RDD scan with no joins at all."""
    if op_id == "sim_ann_join":
        import io
        from contextlib import redirect_stdout

        from pe_firm_investment_database_pipeline_spark.plans.similarity import (
            _ann_join_result_build,
        )

        buf = io.StringIO()
        with redirect_stdout(buf):
            _ann_join_result_build(spark, sf_dir).explain("formatted")
        plan = buf.getvalue()
    else:
        plan = _plan(spark, op_id, sf_dir)
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )
    if op_id == "dedup_simhash":  # no scalar broadcast here at all
        assert "BroadcastNestedLoopJoin" not in plan


def test_hll_rollup_merge_equals_direct(spark, sf_dir):
    """agg_hll_rollup's sketch-level properties (the entry itself now
    emits exact counts + an est_ok bound flag so the driver can
    hash-check it; the raw estimates are value-checked here). Three
    properties: (1) MERGE LOSES NOTHING — unioning the per-nation
    sketches to region level must estimate exactly what a direct
    region-level sketch over the raw rows estimates (DataSketches HLL
    union is lossless for sketches of the same lgK); (2) the estimate
    lands within the configured sketch accuracy (~0.8% rsd at lgK=14,
    3x slack) of the exact distinct customer count per region; (3) the
    entry's own est_ok flag is 1 everywhere and its exact column
    matches countDistinct."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _HLL_LGK,
        agg_hll_rollup,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

    entry_rows = agg_hll_rollup(spark, sf_dir).collect()
    assert all(r["est_ok"] == 1 for r in entry_rows)
    entry_exact = {r["r_name"]: r["exact_distinct_customers"] for r in entry_rows}

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    fact = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    direct = {
        row["r_name"]: row["est"]
        for row in fact.groupBy("r_name")
        .agg(
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(o_custkey, {_HLL_LGK}))"
            ).alias("est")
        )
        .collect()
    }
    rolled = {
        row["r_name"]: row["est"]
        for row in fact.groupBy("r_name", fact.c_nationkey)
        .agg(
            F.expr(f"hll_sketch_agg(o_custkey, {_HLL_LGK})").alias("sk")
        )
        .groupBy("r_name")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
        .collect()
    }
    exact = {
        row["r_name"]: row["n"]
        for row in fact.groupBy("r_name")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(rolled) == set(direct) == set(exact) == set(entry_exact)
    for name in rolled:
        assert rolled[name] == direct[name], (name, rolled[name], direct[name])
        assert abs(rolled[name] - exact[name]) <= max(2, 0.025 * exact[name])
        assert entry_exact[name] == exact[name]


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    """sim_pq_topk's 16x-compressed ADC ranking must still surface a
    meaningful share of the TRUE nearest neighbors: at 16 centroids
    per subspace on this corpus the ADC top-10 overlaps the exact
    integer-L2 top-10 in >= 2 positions (measured 3; threshold leaves
    sampling slack). Guards against a codebook/encoding bug that
    would still hash-match its own oracle (both engines would compute
    the same WRONG ranking) but destroy retrieval quality."""
    from pe_firm_investment_database_pipeline_spark.plans.similarity import (
        sim_pq_topk,
    )
    from tools.driver_sim import oracle_conn

    pq_top = [r["vec_id"] for r in sim_pq_topk(spark, sf_dir).collect()]
    con = oracle_conn(sf_dir)
    exact = [
        r[0]
        for r in con.execute(
            """
WITH eq AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
  FROM embeddings
), qv AS (SELECT q AS qq FROM eq WHERE vec_id = 0)
SELECT vec_id
FROM eq, qv WHERE vec_id != 0
ORDER BY CAST(list_sum(list_transform(range(1, 65),
              i -> (q[i]-qq[i])*(q[i]-qq[i]))) AS BIGINT), vec_id
LIMIT 10
"""
        ).fetchall()
    ]
    assert len(set(pq_top) & set(exact)) >= 2, (pq_top, exact)


def test_aqe_splits_planted_skewed_join(spark):
    """The engine's scale story leans on AQE splitting hot partitions
    at runtime (similarity/dedup docstrings: 'AQE skew-join splits
    hot cells'); pin that the machinery actually fires. A planted
    99.9%-hot key through a shuffle join must come out of execution
    as SortMergeJoin(skew=true) with a skewed AQEShuffleRead — the
    runtime split of the hot partition into multiple tasks. The
    thresholds are lowered only because the planted input is tiny by
    CI necessity; production defaults (256 MB advisory) behave
    identically at real partition sizes. The final adaptive plan is
    only observable on the executed DataFrame instance, hence the
    collect on the exact frame."""
    import io
    from contextlib import redirect_stdout

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") % 1000 == 0, F.col("id") % 100)
            .otherwise(0)
            .alias("k"),
            F.concat(F.lit("x" * 60), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        right = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("dim").alias("name")
        )
        j = left.join(right, "k").select("k", "name", "payload")
        assert j.count() == 500_000  # materialize THIS frame
        j.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, plan
    assert "skewed" in plan  # the AQEShuffleRead actually split it


def test_ann_index_append_sees_batch(spark, sf_dir):
    """The incremental-index entry must be NON-VACUOUS (an empty
    query set hash-matches an empty oracle — exactly the failure this
    guards) and the appended batch must be retrievable
    DETERMINISTICALLY: every query's planted clone (vec_id +
    1_000_000, identical vector, therefore identical centroid
    assignment) must come back at nn_rank 1 with cosine ~1.0 — if
    the batch assignment or the postings union were broken, the
    clone would be invisible and this fails regardless of fixture
    randomness."""
    from pe_firm_investment_database_pipeline_spark.plans.similarity import (
        sim_ann_index_append,
    )

    rows = sim_ann_index_append(spark, sf_dir).collect()
    assert rows, "query congruence class must not be empty"
    top1 = {r["query_id"]: r for r in rows if r["nn_rank"] == 1}
    assert top1
    for qid, r in top1.items():
        assert r["nbr_id"] == qid + 1_000_000, (qid, r)
        assert r["cosine"] > 0.999999, (qid, r["cosine"])


def test_bloom_prefilter_prunes(spark, sf_dir):
    """contamination_bloom's bitset must do real work: the pruned
    train side entering the exact join is a small fraction of all
    train shingles (bench shingles load ~11% of the 2^16 bits, so
    the two-probe FP rate is ~1%), while the final result is EXACTLY
    contamination_ngram's — false positives die in the exact join,
    true positives are never dropped (a Bloom filter has no false
    negatives)."""
    from pyspark.sql import functions as F

    from pe_firm_investment_database_pipeline_spark.plans.datapipe import (
        _bloom_survivors,
        _shingled,
        contamination_bloom,
        contamination_ngram,
    )

    sh = _shingled(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
    bench = sh.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    train = sh.where(F.col("doc_id") % 97 != 0)
    n_train = train.count()
    n_surv = _bloom_survivors(train, bench).count()
    assert n_surv < 0.2 * n_train, (n_surv, n_train)
    got = {
        (r["doc_id"], r["bench_id"], r["n_shared_shingles"])
        for r in contamination_bloom(spark, sf_dir).collect()
    }
    want = {
        (r["doc_id"], r["bench_id"], r["n_shared_shingles"])
        for r in contamination_ngram(spark, sf_dir).collect()
    }
    assert got == want


def test_bitmap_distinct_incremental_merge(spark, sf_dir):
    """The bitmap-distinct claim that matters at 100 TB: bitmaps
    built INDEPENDENTLY per ingest slice (two halves of the events
    table here) and or-merged afterwards must give exactly the same
    distinct counts as a direct countDistinct over everything —
    that's what lets a daily pipeline persist per-day bitmap states
    and never re-expand history."""
    from pyspark.sql import functions as F

    from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2).alias("slice"),
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        F.expr("bitmap_bit_position(user_id)").alias("pos"),
    )
    per_slice = ev.groupBy("event_type", "slice", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    merged = (
        per_slice.groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
    )
    got = {r["event_type"]: r["n"] for r in merged.collect()}
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_ks_drift_detects_planted_shift(spark, tmp_path):
    """profile_ks_drift semantics: a planted distribution shift
    (early epoch values ~1, late epoch values ~100, disjoint
    supports) must yield the maximal KS statistic 1.0 exactly
    (ks_num = n_early * n_late), while an identical-distribution
    type stays well below it."""
    import datetime as dt

    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        profile_ks_drift,
    )

    rows = []
    eid = 0
    for i in range(50):
        early = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)
        late = dt.datetime(2024, 6, 1) + dt.timedelta(minutes=i)
        rows.append((eid, early, 1, "shifted", 1.0 + i * 0.01, "{}")); eid += 1
        rows.append((eid, late, 1, "shifted", 100.0 + i * 0.01, "{}")); eid += 1
        # same uniform ramp in both epochs -> low KS
        rows.append((eid, early, 1, "stable", 5.0 + i * 0.01, "{}")); eid += 1
        rows.append((eid, late, 1, "stable", 5.0 + i * 0.01, "{}")); eid += 1
    df = spark.createDataFrame(
        rows,
        schema="event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r["event_type"]: r for r in profile_ks_drift(spark, d).collect()}
    sh = out["shifted"]
    assert sh["ks_stat"] == 1.0 and sh["ks_num"] == sh["n_early"] * sh["n_late"]
    assert out["stable"]["ks_stat"] < 0.1
