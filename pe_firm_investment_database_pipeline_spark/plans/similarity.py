"""Similarity search over the embeddings table (array<float>[64]) —
the ANN extension surface (repo:BASELINE.json:6).

Engine-parity trick: embeddings are quantized to integer micro-units
(floor(x * 1e6)) before any arithmetic. Dot products and norms then
run in exact int64 (order-insensitive, engine-independent); the final
cosine is a division of identical integers — bit-identical doubles on
Spark and DuckDB, so ranking and top-k are fully deterministic.

Scale notes:
- brute-force top-k: one broadcast of the query vector, a single
  narrow projection per row, TakeOrderedAndProject for the top-k —
  the right baseline even at 10^9 vectors when k is small.
- blocked kNN / near-dup: candidate pairs are generated ONLY inside
  a random-hyperplane LSH cell (equi-join on the cell id). The cell
  id is the low `nbits` bits of a 62-bit sign signature, and `nbits`
  is derived IN-PLAN from the corpus count (log2(N/target)), so the
  number of cells GROWS with the data — per-cell population stays
  ~constant and the pair count stays O(N), never O(N^2/k) with a
  fixed k, with no practical cap (2^62 cells). At 100 TB the same
  plan shape holds: signature map-side, one shuffle on cell, AQE
  skew-join splits hot cells.
- IVF: a sampled-centroid coarse quantizer (~sqrt(N) centroids,
  deterministic stride sample = k-means sampled init with zero
  Lloyd iterations), argmin assignment, multi-probe over the 4
  nearest cells, exact cosine re-rank.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.session_cache import front, staging_path
from ..registry import QuerySpec
from ..sources.tables import load_table

_QUANT = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
_QUANT_DUCK = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
)
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
_DOT_DUCK = "CAST(list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) AS BIGINT)"


def _emb_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.expr(_QUANT).alias("q"),
        F.expr(_DOT.format(a=_QUANT, b=_QUANT)).alias("nrm"),
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH signature (the scale-bearing blocking key)
# ---------------------------------------------------------------------------
#
# 62 fixed hyperplanes over the 64 dims, integer weights in
# {-2,-1,1,2} from a seeded RNG, embedded as LITERAL arrays in both
# the Spark expression and the DuckDB SQL — the sign pattern of the
# 62 integer dot products is therefore bit-identical across engines
# (all-int64 arithmetic, no float rounding). Identical vectors always
# land in the same cell, so exact/near-exact duplicates are never
# split by the blocking. 62 (not 64) planes: bits 62/63 would push the
# int64 signature negative, and the two engines' `%` on negative
# operands is a parity hazard; 2^62 cells already covers ~2^67 rows
# at the 32-rows/cell target, far past any corpus.
#
# The cell id keeps only the low `nbits` bits of the signature, and
# `nbits` is computed IN-PLAN from COUNT(*) of the blocked set:
#   nbits = clamp(lo, 62, floor(log2(N / target_cell_rows)))
# so cell count scales ~N/target (pair blocking) or ~sqrt(N) (IVF) —
# the property the 100 TB path needs, with no practical cap. Cost: one
# tiny scalar aggregate broadcast onto the scan (Spark) / a CROSS JOIN
# on a 1-row CTE (DuckDB).

_N_PLANES = 62


def _make_planes() -> list[list[int]]:
    out = []
    for i in range(_N_PLANES):
        rng = random.Random(715 + i)  # one RNG per plane, fresh draw per dim
        out.append([rng.choice([-2, -1, 1, 2]) for _ in range(64)])
    return out


_PLANES = _make_planes()


# Spark-side signature: a vectorized Arrow-batched Pandas UDF doing
# ONE numpy int64 matvec per batch (n x 64 @ 64 x 62). A pure-SQL
# 62-term higher-order-function expression is semantically identical
# but pathological: ~4k interpreted lambda evals per row plus a
# 30 KB expression tree Catalyst must analyze per query. The UDF is
# map-side only (no shuffle), exact int64 (|dot| <= 64*2*10^6, far
# inside both int64 and numpy's exact range), and its sign pattern is
# bit-identical to the oracle's relational formulation below. This is
# the one place the engine uses a Pandas UDF in a hot path — the
# matvec genuinely has no efficient built-in expression.


_PLANES_T = np.asarray(_PLANES, dtype=np.int64).T  # 64 x 62
_BIT_WEIGHTS = np.int64(1) << np.arange(_N_PLANES, dtype=np.int64)


def _sig_pandas(q: pd.Series) -> pd.Series:
    if len(q) == 0:
        return pd.Series([], dtype="int64")
    vals = q.to_numpy()
    # fail LOUDLY on fixture drift (null / mis-sized embedding): the
    # DuckDB twin would silently drop such a row through its unnest
    # join while np.stack would die with an opaque shape error. The
    # happy path pays NOTHING — only when the vectorized stack fails
    # (or yields a ragged shape) does the per-row scan run to name
    # the offending row. Contract pinned in tests/test_fixture_drift.py.
    try:
        m = np.stack(vals)
        if m.ndim != 2 or m.shape[1] != 64:
            raise ValueError(f"ragged batch shape {m.shape}")
    except Exception:
        bad = next(
            (i for i, v in enumerate(vals) if v is None or len(v) != 64), None
        )
        raise ValueError(
            "embeddings drift: expected non-null 64-dim embedding, got "
            f"{None if bad is None else vals[bad]!r} at batch offset {bad}"
        ) from None
    m = m.astype(np.int64, copy=False)  # n x 64
    dots = m @ _PLANES_T  # n x 62, exact int64
    return pd.Series(((dots > 0) * _BIT_WEIGHTS).sum(axis=1, dtype=np.int64))


# Created ONCE and memoized (pandas_udf needs an active session, so
# not at import): every query reuses the same serialized UDF, so the
# persisted signature frame's plan is identical across invocations
# and Spark's CacheManager can recognize and reuse it.
_SIG_UDF = None


def _sig_col(qcol):
    global _SIG_UDF
    if _SIG_UDF is None:
        _SIG_UDF = F.pandas_udf(_sig_pandas, "bigint")
    return _SIG_UDF(qcol)


def _planes_duck_values() -> str:
    """The plane weights as a DuckDB VALUES list: (plane, ws[64])."""
    return ", ".join(
        f"({i}, [{','.join(str(w) for w in ws)}])" for i, ws in enumerate(_PLANES)
    )

# nbits formulas over the blocked-set count `n`; the GREATEST guards
# tiny inputs, 62 is the signature width. The inner GREATEST(…, 1.0)
# keeps log2's argument positive for empty/tiny inputs (log2(0) is
# -Inf, and ANSI mode turns its int cast into a hard error). Both
# engines evaluate IEEE-double log2/sqrt + floor on the same integer
# count — identical results. _NBITS_PAIR targets ~32 rows/cell (cells
# ~ N/32, pair cost O(N)); _NBITS_IVF targets ~sqrt(N) cells
# (per-probe scan ~sqrt(N)).
_NBITS_PAIR = (
    "GREATEST(1, LEAST(62, CAST(floor("
    "log2(GREATEST(CAST(n AS DOUBLE) / 32.0, 1.0))) AS INT)))"
)
_NBITS_IVF = (
    "GREATEST(3, LEAST(62, CAST(floor("
    "log2(GREATEST(sqrt(CAST(n AS DOUBLE)), 1.0))) AS INT)))"
)


# Staged (persisted) index frames, memoized per (applicationId,
# sf_dir-ish key): a 100+-entry registry sweep re-invokes the same
# builders many times, and a fresh ``persist()`` per invocation
# accumulates MEMORY_AND_DISK blocks for the session lifetime even
# when CacheManager dedups the plans. Returning the SAME Python
# DataFrame bounds live storage at one block set per (session, data
# dir, index kind).
def _staged(
    spark: SparkSession, key: tuple, build, src: DataFrame, owner: str | None = None
) -> DataFrame:
    """Memoized persist, a "sim_stage" front. ``key`` is (sf_dir,
    *kind); the front key adds ``src``'s semantic plan hash, not just
    the caller-chosen name: two callers that pass the same stage key
    but DIFFERENT input frames (e.g. a test planting duplicate vectors
    into the multiprobe corpus) must never silently share a staged
    index — same name + same logical plan is the only thing that
    hits."""
    sf_dir, *kind = key
    return front(
        spark,
        sf_dir,
        "sim_stage",
        lambda: build().persist(),
        *kind,
        src.semanticHash(),
        owner=owner,
    )


def _celled(
    df: DataFrame, nbits_sql: str, stage: bool = True, stage_key: tuple | None = None
) -> DataFrame:
    """Attach `cell` = low-nbits bits of the LSH signature, with nbits
    derived from COUNT(*) of `df` via a broadcast 1-row scalar.

    With ``stage=True`` the signature-bearing frame is persisted
    (memory-and-disk): a corpus-scale consumer self-joins it, and
    without staging the signature would be computed once per join side
    plus once for the count — the round-2 bench regression. On a
    cluster this is the standard 'stage the index' step before a
    self-join; the count then reads the staged columnar data instead
    of rescanning the source. The REBALANCE hint lets AQE size the
    staged partitions by bytes — one task at test scale instead of 32
    near-empty ones, thousands of ~64 MB tasks at 100 TB — so every
    downstream stage over the index runs the right task count for the
    data, not for the source layout. ``stage_key`` additionally
    memoizes the persisted frame across invocations (see _staged).

    Pass ``stage=False`` when the blocked set is small BY
    CONSTRUCTION (e.g. a literal key-range filter): recomputing the
    cheap map-side signature per join side costs less than the
    persist/cache bookkeeping jobs."""
    spark = df.sparkSession

    def build() -> DataFrame:
        return df.hint("rebalance").withColumn("sig", _sig_col(F.col("q")))

    if stage and stage_key is not None:
        sigs = _staged(spark, stage_key, build, df)
    elif stage:
        sigs = build().persist()
    else:
        sigs = build()
    params = (
        sigs.select("sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.expr(nbits_sql).alias("nbits"))
    )
    return (
        sigs.crossJoin(F.broadcast(params))
        .withColumn("cell", F.expr("sig % shiftleft(CAST(1 AS BIGINT), nbits)"))
    )


def _celled_small(df: DataFrame, nbits_sql: str) -> DataFrame:
    """`_celled` for sets that are tiny BY CONSTRUCTION (a literal
    key-range filter): the same in-plan nbits = f(COUNT(*)) value, but
    computed with a single global window over one coalesced partition
    instead of the aggregate + broadcast-cross-join scalar — removing
    two exchanges and a BroadcastNestedLoopJoin whose fixed cost
    dominates a few-hundred-row input. A global window serializes on
    one partition, so this shape is ONLY for literal-bounded sets; the
    aggregate/broadcast form in `_celled` is the scale path."""
    sigs = df.coalesce(1).withColumn("sig", _sig_col(F.col("q")))
    return (
        sigs.withColumn("n", F.count(F.lit(1)).over(W.partitionBy(F.lit(1))))
        .withColumn("nbits", F.expr(nbits_sql))
        .withColumn("cell", F.expr("sig % shiftleft(CAST(1 AS BIGINT), nbits)"))
    )


def _celled_duck(src: str, nbits_sql: str) -> str:
    """DuckDB twin of `_celled`: a CTE-chain fragment ending in a
    MATERIALIZED `celled` (src.*, sig, cell). The signature is
    computed RELATIONALLY (unnest dims -> join literal plane weights
    -> sum per (vec, plane) -> pack sign bits) instead of a 62-term
    scalar expression — same exact int64 arithmetic, but vectorized
    hash-join/agg work instead of ~4k interpreted lambda evals per
    row, and MATERIALIZED stops DuckDB's CTE inlining from
    recomputing it once per self-join side. Assumes `src` has a
    unique vec_id (true for every consumer)."""
    return f"""planes(plane, ws) AS (VALUES {_planes_duck_values()}),
sig_dims AS (
  SELECT vec_id, unnest(q) AS qv, unnest(range(1, 65)) AS dim FROM {src}
), sig_planes AS (
  SELECT plane, unnest(ws) AS w, unnest(range(1, 65)) AS dim FROM planes
), sig_dots AS (
  SELECT d.vec_id, p.plane, SUM(d.qv * p.w) AS dot
  FROM sig_dims d JOIN sig_planes p USING (dim)
  GROUP BY d.vec_id, p.plane
), sigs AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot > 0
                       THEN CAST(1 AS BIGINT) << plane ELSE 0 END) AS BIGINT) AS sig
  FROM sig_dots GROUP BY vec_id
), celled AS MATERIALIZED (
  SELECT s.*, s.sig % (CAST(1 AS BIGINT) << p.nbits) AS cell
  FROM (SELECT t.*, g.sig FROM {src} t JOIN sigs g USING (vec_id)) s
  CROSS JOIN (SELECT {nbits_sql} AS nbits
              FROM (SELECT COUNT(*) AS n FROM {src})) p
)"""

def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the query vector (vec_id=0).
    The single-row query side is broadcast; the scan side computes one
    fused projection per row; top-k is TakeOrderedAndProject (no full
    sort). Ties broken by vec_id for determinism."""
    emb = _emb_q(spark, sf_dir)
    q = (
        emb.where(F.col("vec_id") == 0)
        .select(F.col("q").alias("qq"), F.col("nrm").alias("qnrm"))
    )
    dot = F.expr(_DOT.format(a="q", b="qq"))
    cos = dot.cast("double") / (
        F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("qnrm").cast("double"))
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_SIM_COSINE_TOPK_SQL = f"""
WITH eq AS (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), query AS (
  SELECT q AS qq, nrm AS qnrm FROM eq WHERE vec_id = 0
)
SELECT vec_id, label,
       CAST({_DOT_DUCK.format(a="q", b="qq")} AS DOUBLE)
         / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(qnrm AS DOUBLE))) AS cosine
FROM eq CROSS JOIN query
WHERE vec_id != 0
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


_RANGE_TAU = 0.25


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: ALL vectors with cosine >= tau to the
    query vector — the other half of the vector-search API surface
    (top-k answers 'the nearest'; range answers 'everything similar
    enough', the shape dedup admission and recall-complete retrieval
    need). Same broadcast-query scan as `sim_cosine_topk`, but the
    cut is a map-side FILTER instead of a top-k heap: no ordering, no
    limit, result size data-dependent. The cosine doubles are
    bit-identical across engines (exact-int dot/norms), so the tau
    comparison can never straddle engines."""
    emb = _emb_q(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("q").alias("qq"), F.col("nrm").alias("qnrm")
    )
    cos = F.expr(_DOT.format(a="q", b="qq")).cast("double") / (
        F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("qnrm").cast("double"))
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "label", cos.alias("cosine"))
        .where(F.col("cosine") >= _RANGE_TAU)
    )


_SIM_RANGE_SEARCH_SQL = f"""
WITH eq AS (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), query AS (
  SELECT q AS qq, nrm AS qnrm FROM eq WHERE vec_id = 0
)
SELECT vec_id, label,
       CAST({_DOT_DUCK.format(a="q", b="qq")} AS DOUBLE)
         / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(qnrm AS DOUBLE))) AS cosine
FROM eq CROSS JOIN query
WHERE vec_id != 0
  AND CAST({_DOT_DUCK.format(a="q", b="qq")} AS DOUBLE)
        / (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(qnrm AS DOUBLE))) >= {_RANGE_TAU}
"""


def sim_knn_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-blocked kNN: top-3 cosine neighbors per vector within its
    random-hyperplane cell. Pairs exist only inside a cell (equi-join
    on the cell id), ranked with a per-vector window. The cell count
    is derived in-plan from COUNT(*) (target ~32 rows/cell), so the
    candidate set stays O(N), not O(N^2 / constant) — the property
    the old 10-value `label` blocking lacked at 100 TB.
    Restricted to vec_id < 200 to keep the test-scale result compact
    (the O(N) blocking claim at volume is `sim_knn_blocked_full`);
    the tiny literal-bounded set uses the window-count `_celled_small`
    shape and broadcasts the build side of the pair join — the whole
    query is one scan task plus one broadcast."""
    emb = _celled_small(
        _emb_q(spark, sf_dir).where(F.col("vec_id") < 200), _NBITS_PAIR
    )
    return _knn_pairs_topk(emb, broadcast_build=True)


def _knn_pairs_topk(emb: DataFrame, broadcast_build: bool = False) -> DataFrame:
    """Shared kNN tail: within-cell pair join → exact cosine → top-3
    per vector. ``broadcast_build=True`` broadcasts the build side
    (only for literal-bounded inputs; the full-corpus path shuffles
    both sides on cell, which AQE sizes and skew-splits)."""
    a = emb.select(
        F.col("vec_id").alias("vec_id"),
        F.col("label").alias("label"),
        F.col("cell").alias("cell"),
        F.col("q").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("cell").alias("cell"),
        F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    if broadcast_build:
        b = F.broadcast(b)
    cos = F.expr(_DOT.format(a="qa", b="qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("vec_id") != F.col("nbr_id"))
        .select("vec_id", "label", "nbr_id", cos.alias("cosine"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        pairs.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= 3)
        .select("vec_id", "label", "nbr_id", "cosine", "nn_rank")
    )


def sim_knn_blocked_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus LSH-blocked kNN: top-3 cosine neighbors for EVERY
    vector — the volume demonstration of the O(N) cell blocking (the
    restricted entry above shows the plan shape cheaply). The staged
    signature index is persisted and memoized, both join sides read
    it, and the pair count stays ~32·N because the cell count grows
    with COUNT(*) in-plan. At 100 TB this is the same plan with more
    cells: signature map-side, one shuffle on cell (AQE skew-split),
    one window shuffle on vec_id. The top-k RESULT frame (N·3 rows —
    tiny relative to the ~32·N pair work that built it) is staged
    too: `sim_reciprocal_nn` self-joins it, and without staging each
    join side would re-run the whole pair join + rank window."""
    src = _emb_q(spark, sf_dir)

    def build() -> DataFrame:
        emb = _celled(src, _NBITS_PAIR, stage_key=(sf_dir, "knn_full_sigs"))
        return _knn_pairs_topk(emb)

    return _staged(
        spark, (sf_dir, "knn_full_topk"), build, src, owner="sim_knn_blocked_full"
    )


_SIM_KNN_BLOCKED_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings WHERE vec_id < 200
), {_celled_duck("eq", _NBITS_PAIR)}, pairs AS (
  SELECT a.vec_id, a.label, b.vec_id AS nbr_id,
         CAST({_DOT_DUCK.format(a="a.q", b="b.q")} AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
  FROM celled a JOIN celled b ON a.cell = b.cell AND a.vec_id != b.vec_id
)
SELECT vec_id, label, nbr_id, cosine, nn_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, nbr_id) AS BIGINT) AS nn_rank
  FROM pairs)
WHERE nn_rank <= 3
"""


_SIM_KNN_BLOCKED_FULL_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), {_celled_duck("eq", _NBITS_PAIR)}, pairs AS (
  SELECT a.vec_id, a.label, b.vec_id AS nbr_id,
         CAST({_DOT_DUCK.format(a="a.q", b="b.q")} AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
  FROM celled a JOIN celled b ON a.cell = b.cell AND a.vec_id != b.vec_id
)
SELECT vec_id, label, nbr_id, cosine, nn_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine DESC, nbr_id) AS BIGINT) AS nn_rank
  FROM pairs)
WHERE nn_rank <= 3
"""


def sim_reciprocal_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL NEAREST NEIGHBORS — pairs where each vector sits in
    the OTHER's top-3: the high-precision subset of the kNN graph
    that SemDeDup-style semantic dedup and self-supervised pair
    mining treat as 'true' duplicates/positives (one-directional
    neighbors are often hub artifacts; mutuality filters hubs out).
    Pure composition over the staged blocked-kNN entry — the kNN
    frame is computed once (memoized signature index, ~32·N pair
    work), and mutuality is ONE self-equi-join on the (vec, nbr)
    key pair with a canonical a<b orientation. Emits both ranks so
    consumers can tighten to rank-1-mutual."""
    knn = sim_knn_blocked_full(spark, sf_dir)
    k1 = knn.select(
        F.col("vec_id").alias("a"),
        F.col("nbr_id").alias("b"),
        F.col("cosine").alias("cosine"),
        F.col("nn_rank").alias("rank_ab"),
    ).where(F.col("a") < F.col("b"))
    k2 = knn.select(
        F.col("nbr_id").alias("a"),
        F.col("vec_id").alias("b"),
        F.col("nn_rank").alias("rank_ba"),
    ).where(F.col("a") < F.col("b"))
    return k1.join(k2, ["a", "b"]).select(
        F.col("a").alias("vec1"),
        F.col("b").alias("vec2"),
        "cosine",
        "rank_ab",
        "rank_ba",
    )


_SIM_RECIPROCAL_NN_SQL = f"""
WITH knn AS MATERIALIZED ({_SIM_KNN_BLOCKED_FULL_SQL})
SELECT k1.vec_id AS vec1, k1.nbr_id AS vec2, k1.cosine,
       k1.nn_rank AS rank_ab, k2.nn_rank AS rank_ba
FROM knn k1 JOIN knn k2
  ON k1.vec_id = k2.nbr_id AND k1.nbr_id = k2.vec_id
WHERE k1.vec_id < k1.nbr_id
"""


# dedup-threshold ladder swept by sim_threshold_sweep (cosine ppm);
# fixture top-3 cosines span ~0.12-0.47, so every rung is non-trivial
_SWEEP_TAUS = (150000, 200000, 250000, 300000, 350000, 400000, 450000)


def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP THRESHOLD SWEEP — for each cosine cutoff in a ppm
    ladder, how many near-dup pairs fire, how many documents are
    touched, and how many would be dropped under the keep-lowest-id
    survivor policy (count of distinct greater-side members). This is
    the tuning table every dedup rollout reads before committing to a
    tau — produced from the STAGED blocked-kNN frame (N·3 rows), so
    the whole sweep costs two tiny aggregates over an
    already-persisted index, never a rescan of the corpus. The
    threshold compare is double-vs-double with identical expression
    trees in both engines (tau_ppm/1e6 and the cosine are derived
    from identical integers), so it sits safely on the hash surface.
    n_removed upper-bounds true transitive-closure removals
    (`dedup_savings_report` refines via CC labels); the sweep is the
    cheap first pass."""
    knn = sim_knn_blocked_full(spark, sf_dir)
    pairs = knn.select(
        F.least("vec_id", "nbr_id").alias("a"),
        F.greatest("vec_id", "nbr_id").alias("b"),
        "cosine",
    ).distinct()
    hit = pairs.select(
        "a",
        "b",
        "cosine",
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in _SWEEP_TAUS])
        ).alias("tau_ppm"),
    ).where(F.col("cosine") >= F.col("tau_ppm") / F.lit(1000000.0))
    agg = hit.groupBy("tau_ppm").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("b").alias("n_removed"),
    )
    docs = (
        hit.select("tau_ppm", F.explode(F.array("a", "b")).alias("v"))
        .groupBy("tau_ppm")
        .agg(F.countDistinct("v").alias("n_docs"))
    )
    return agg.join(docs, "tau_ppm")


_SIM_THRESHOLD_SWEEP_SQL = f"""
WITH knn AS MATERIALIZED ({_SIM_KNN_BLOCKED_FULL_SQL}),
pairs AS (
  SELECT DISTINCT LEAST(vec_id, nbr_id) AS a, GREATEST(vec_id, nbr_id) AS b,
         cosine
  FROM knn
), taus AS (
  SELECT CAST(unnest([{", ".join(str(t) for t in _SWEEP_TAUS)}]) AS BIGINT)
    AS tau_ppm
), hit AS (
  SELECT t.tau_ppm, p.a, p.b
  FROM pairs p CROSS JOIN taus t
  WHERE p.cosine >= CAST(t.tau_ppm AS DOUBLE) / 1000000.0
), agg AS (
  SELECT tau_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS n_removed
  FROM hit GROUP BY tau_ppm
), docs AS (
  SELECT tau_ppm, CAST(COUNT(DISTINCT v) AS BIGINT) AS n_docs
  FROM (SELECT tau_ppm, unnest([a, b]) AS v FROM hit) GROUP BY tau_ppm
)
SELECT agg.tau_ppm, agg.n_pairs, agg.n_removed, docs.n_docs
FROM agg JOIN docs USING (tau_ppm)
"""


def ml_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 EMBEDDING QUANTIZATION ledger — per-vector symmetric
    (max-abs) int8 compression of the embedding column with an EXACT
    reconstruction-error report: the 4x memory/bandwidth reduction
    every large ANN index takes, audited before flipping the index
    over. Entirely array-native higher-order functions over the ppm
    integer grid (`transform`/`zip_with`/`aggregate` — JVM-side, no
    UDF): maxabs scale, truncating toward-zero int division applied
    to |x| with the sign re-applied (identical trees in both engines
    — DuckDB `//` floors, so the sign-split is what keeps negative
    lanes exact), error e_i = x_i*127 - q8_i*maxabs bounded by
    maxabs, so sse <= 64*maxabs^2 stays in int64. Zero shuffles —
    runs at scan speed at any corpus size."""
    e = _emb_q(spark, sf_dir).select("vec_id", "label", "q")
    m = e.withColumn("maxabs", F.expr("array_max(transform(q, x -> abs(x)))"))
    q8 = m.withColumn(
        "q8",
        F.expr(
            "transform(q, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)"
            " WHEN x < 0 THEN -((-x * 127) div maxabs)"
            " ELSE (x * 127) div maxabs END)"
        ),
    )
    return q8.select(
        "vec_id",
        "label",
        F.col("maxabs").alias("maxabs_q"),
        F.expr(
            "aggregate(zip_with(q, q8, (x, y) ->"
            " (x * 127 - y * maxabs) * (x * 127 - y * maxabs)),"
            " 0L, (acc, v) -> acc + v)"
        ).alias("sse"),
        F.expr(
            "array_max(zip_with(q, q8, (x, y) -> abs(x * 127 - y * maxabs)))"
        ).alias("max_abs_err"),
        F.expr("CAST(size(filter(q8, y -> y != 0)) AS BIGINT)").alias("nnz8"),
    )


_ML_QUANTIZE_INT8_SQL = f"""
WITH eq AS (
  SELECT vec_id, label, {_QUANT_DUCK} AS q FROM embeddings
), m AS (
  SELECT vec_id, label, q,
         list_max(list_transform(q, x -> abs(x))) AS maxabs
  FROM eq
), q8t AS (
  SELECT vec_id, label, q, maxabs,
         list_transform(q, x -> CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT)
           WHEN x < 0 THEN -((-x * 127) // maxabs)
           ELSE (x * 127) // maxabs END) AS q8
  FROM m
)
SELECT vec_id, label, CAST(maxabs AS BIGINT) AS maxabs_q,
       CAST(list_sum(list_transform(range(1, 65), i ->
         (q[i] * 127 - q8[i] * maxabs) * (q[i] * 127 - q8[i] * maxabs)))
         AS BIGINT) AS sse,
       CAST(list_max(list_transform(range(1, 65), i ->
         abs(q[i] * 127 - q8[i] * maxabs))) AS BIGINT) AS max_abs_err,
       CAST(len(list_filter(q8, y -> y != 0)) AS BIGINT) AS nnz8
FROM q8t
"""


def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics (norm distribution) — the
    aggregate shape used to size IVF cells."""
    emb = _emb_q(spark, sf_dir)
    nrm_d = F.sqrt(F.col("nrm").cast("double")) / 1000000.0
    return (
        emb.select("label", nrm_d.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )


_SIM_EMBEDDING_STATS_SQL = f"""
WITH eq AS (
  SELECT label,
         sqrt(CAST({_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS DOUBLE))
           / 1000000.0 AS norm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs, MIN(norm) AS min_norm, MAX(norm) AS max_norm
FROM eq GROUP BY label
"""


# IVF coarse-quantizer parameters, derived in-plan from COUNT(*):
# k = ceil(sqrt(N)) centroids, taken as the deterministic stride
# sample vec_id % stride == 0 (k-means with sampled init and zero
# Lloyd iterations — data points ARE the centroids, so both engines
# agree bit-for-bit with no training state). GREATEST guards n = 0.
_IVF_STRIDE = (
    "GREATEST(1, CAST(ceil(CAST(n AS DOUBLE) / "
    "GREATEST(ceil(sqrt(CAST(n AS DOUBLE))), 1.0)) AS BIGINT))"
)
_IVF_PROBES = 4  # multi-probe width: query scans its 4 nearest cells


def _ivf_index(
    emb: DataFrame, stage_key: tuple | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVF index over a corpus: (staged corpus, broadcastable
    centroids, staged cell assignment). The assignment frame `ranked`
    holds every corpus vector's top-`_IVF_PROBES` centroids — crank=1
    rows are the posting lists, crank<=P rows serve corpus-member
    query probes. Shared by the self-ANN (`_ivf_topk`) and the
    two-relation retrieval join (`sim_ann_join`); with the same
    ``stage_key`` both consumers reuse ONE staged index."""
    spark = emb.sparkSession
    src = emb

    def build_emb() -> DataFrame:
        return src.hint("rebalance")

    if stage_key is not None:
        emb = _staged(spark, (*stage_key, "ivf_emb"), build_emb, src)
    else:
        emb = build_emb().persist()
    params = (
        emb.select("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.expr(_IVF_STRIDE).alias("stride"))
    )
    cents = (
        emb.crossJoin(F.broadcast(params))
        .where(F.expr("vec_id % stride = 0"))
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("q").alias("cq"),
            F.col("nrm").alias("cnrm"),
        )
    )
    ccos = F.expr(_DOT.format(a="q", b="cq")).cast("double") / (
        F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("cnrm").cast("double"))
    )
    wc = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cent_id"))

    def build_ranked() -> DataFrame:
        return (
            emb.crossJoin(F.broadcast(cents))
            .withColumn("ccos", ccos)
            .withColumn("crank", F.row_number().over(wc))
            .where(F.col("crank") <= _IVF_PROBES)
        )

    if stage_key is not None:
        ranked = _staged(spark, (*stage_key, "ivf_ranked"), build_ranked, src)
    else:
        ranked = build_ranked().persist()
    return emb, cents, ranked


def _ivf_topk(emb: DataFrame, query_pred, stage_key: tuple | None = None) -> DataFrame:
    """Shared IVF-ANN core: sampled-centroid coarse quantizer, argmin
    cell assignment, top-`_IVF_PROBES` probe ranking per query, exact
    cosine re-rank inside the probed cells, top-3 out.

    Plan shape at scale: centroids are ~sqrt(N) rows and BROADCAST;
    assignment is one broadcast nested-loop + per-vector window
    (N x sqrt(N) distance evals — the standard IVF build cost, paid
    once and cacheable as an index); the candidate join is an
    EQUI-join on cell id, so each query touches ~P x N/sqrt(N) rows,
    never the full database. ``query_pred`` is a boolean Column
    selecting the query vectors.

    The PERSISTED frame is the assignment itself (every vector's
    top-`_IVF_PROBES` centroids) — that IS the IVF index: building it
    once serves both the posting lists (crank = 1) and the query
    probes (crank <= P), instead of paying the N x k distance pass
    per consumer. REBALANCE: see `_celled`. ``stage_key`` memoizes
    both persisted frames across invocations (see _staged); direct
    test callers pass none and persist per call."""
    emb, cents, ranked = _ivf_index(emb, stage_key)
    db = (
        ranked.where(F.col("crank") == 1)
        .select(
            F.col("vec_id").alias("nbr_id"),
            F.col("label").alias("nbr_label"),
            F.col("q").alias("qb"),
            F.col("nrm").alias("nb"),
            F.col("cent_id").alias("cell"),
        )
    )
    probes = (
        ranked.where(query_pred & (F.col("crank") <= _IVF_PROBES))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qq"),
            F.col("nrm").alias("qnrm"),
            F.col("cent_id").alias("probe_cell"),
        )
    )
    cos = F.expr(_DOT.format(a="qq", b="qb")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    cands = (
        probes.join(db, probes.probe_cell == db.cell)
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", "nbr_label", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cands.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= 3)
        .select("query_id", "nbr_id", "nbr_label", "cosine", "nn_rank")
    )


def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN with multi-probe over a sampled-centroid coarse
    quantizer: ~sqrt(N) centroids chosen as a deterministic stride
    sample of the corpus (k-means sampled init, zero iterations — so
    the 'trained' index is reproducible in-plan on both engines);
    every vector is assigned to its nearest centroid (argmin cosine);
    each query probes its 4 nearest cells (multi-probe recovers recall
    lost at cell boundaries), then ranks candidates by exact cosine
    and keeps top-3. Query cost is O(P x N/sqrt(N)) = O(sqrt(N)) per
    query — never the full database; cells are partition keys at
    100 TB (partition pruning per probe). Queries restricted to
    vec_id < 20 for test-scale output."""
    return _ivf_topk(
        _emb_q(spark, sf_dir), F.col("vec_id") < 20, stage_key=(sf_dir, "ivf")
    )


_SIM_IVF_MULTIPROBE_SQL = f"""
WITH eq AS (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), prm AS (
  SELECT {_IVF_STRIDE} AS stride FROM (SELECT COUNT(*) AS n FROM eq)
), cents AS (
  SELECT vec_id AS cent_id, q AS cq, nrm AS cnrm
  FROM eq CROSS JOIN prm WHERE vec_id % stride = 0
), ranked AS (
  SELECT e.vec_id, e.label, e.q, e.nrm, c.cent_id,
         CAST(row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY CAST({_DOT_DUCK.format(a="e.q", b="c.cq")} AS DOUBLE)
                      / (sqrt(CAST(e.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
                    DESC, c.cent_id) AS INT) AS crank
  FROM eq e CROSS JOIN cents c
), db AS (
  SELECT vec_id AS nbr_id, label AS nbr_label, q AS qb, nrm AS nb,
         cent_id AS cell
  FROM ranked WHERE crank = 1
), probes AS (
  SELECT vec_id AS query_id, q AS qq, nrm AS qnrm, cent_id AS probe_cell
  FROM ranked WHERE vec_id < 20 AND crank <= {_IVF_PROBES}
), cands AS (
  SELECT p.query_id, d.nbr_id, d.nbr_label,
         CAST({_DOT_DUCK.format(a="p.qq", b="d.qb")} AS DOUBLE)
           / (sqrt(CAST(p.qnrm AS DOUBLE)) * sqrt(CAST(d.nb AS DOUBLE))) AS cosine
  FROM probes p JOIN db d ON p.probe_cell = d.cell
  WHERE p.query_id != d.nbr_id
)
SELECT query_id, nbr_id, nbr_label, cosine, nn_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, nbr_id) AS BIGINT) AS nn_rank
  FROM cands)
WHERE nn_rank <= 3
"""


_ANN_JOIN_K = 5


def _ann_join(
    corpus: DataFrame, queries: DataFrame, stage_key: tuple | None = None
) -> DataFrame:
    """Retrieval-shaped ANN JOIN between two relations: every row of
    ``queries`` (query_id, qq, qnrm) gets its top-`_ANN_JOIN_K`
    nearest corpus neighbors. Unlike the self-join ANN ops, the query
    side is an independent relation: each query is assigned to its
    `_IVF_PROBES` nearest cells by a crossJoin with the BROADCAST
    centroids (~sqrt(N) rows) + per-query window — Q x sqrt(N) work,
    valid for external queries that are not corpus members — then
    equi-joined with the corpus posting lists on the cell id. Per
    query only ~P x N/sqrt(N) corpus rows are touched, never the full
    database; at 100 TB the posting lists are cell-partitioned and
    each probe is a pruned partition read."""
    emb, cents, ranked = _ivf_index(corpus, stage_key)
    qcos = F.expr(_DOT.format(a="qq", b="cq")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("cnrm").cast("double"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cent_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qcos", qcos)
        .withColumn("qrank", F.row_number().over(wq))
        .where(F.col("qrank") <= _IVF_PROBES)
        .select("query_id", "qq", "qnrm", F.col("cent_id").alias("probe_cell"))
    )
    db = (
        ranked.where(F.col("crank") == 1)
        .select(
            F.col("vec_id").alias("nbr_id"),
            F.col("label").alias("nbr_label"),
            F.col("q").alias("qb"),
            F.col("nrm").alias("nb"),
            F.col("cent_id").alias("cell"),
        )
    )
    cos = F.expr(_DOT.format(a="qq", b="qb")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    cands = (
        probes.join(db, probes.probe_cell == db.cell)
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", "nbr_label", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cands.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= _ANN_JOIN_K)
        .select("query_id", "nbr_id", "nbr_label", "cosine", "nn_rank")
    )


def _ann_join_result_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN retrieval plan itself (plan pins assert HERE):
    query relation = every 100th vector, top-5 through the staged
    IVF index. See sim_ann_join for the serving front."""
    corpus = _emb_q(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    return _ann_join(corpus, queries, stage_key=(sf_dir, "ivf"))


# The ANN top-k RESULT is a memoized front (the _kmv_hashed
# discipline): FOUR registry entries consume it — sim_ann_join
# itself, rag_retrieve_docs (payload resolution), rag_hybrid_rrf
# (vector leg), and samp_hard_negatives (five references in one
# plan) — and only the IVF index below it was staged, so each
# consumer re-planned the probe join + top-k window per reference.
# The frame is Q x k (~queries are a fixed 1% sample), tiny at any
# SF; one eager localCheckpoint per (app, dataset) serves them all.
def sim_ann_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN join (Q queries x corpus top-k): the query relation (every
    100th vector) retrieves its top-5 corpus neighbors through the
    IVF index — the retrieval shape (RAG lookup, eval-set probing)
    that the self-join ANN entries don't cover. Shares the staged IVF
    index with `sim_ivf_multiprobe` via the same stage key, so running
    both builds the index once; the top-k RESULT is itself a memoized
    front ("ann_result") serving this entry plus the three
    downstream consumers. Recall >= 0.9 on planted neighbors is
    pinned by tests/test_scale_blocking.py::test_ann_join_recall."""
    return front(
        spark,
        sf_dir,
        "ann_result",
        lambda: _ann_join_result_build(spark, sf_dir).localCheckpoint(
            eager=True
        ),
        owner="sim_ann_join",
    )


_SIM_ANN_JOIN_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), prm AS (
  SELECT {_IVF_STRIDE} AS stride FROM (SELECT COUNT(*) AS n FROM eq)
), cents AS (
  SELECT vec_id AS cent_id, q AS cq, nrm AS cnrm
  FROM eq CROSS JOIN prm WHERE vec_id % stride = 0
), ranked AS (
  SELECT e.vec_id, e.label, e.q, e.nrm, c.cent_id,
         CAST(row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY CAST({_DOT_DUCK.format(a="e.q", b="c.cq")} AS DOUBLE)
                      / (sqrt(CAST(e.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
                    DESC, c.cent_id) AS INT) AS crank
  FROM eq e CROSS JOIN cents c
), db AS (
  SELECT vec_id AS nbr_id, label AS nbr_label, q AS qb, nrm AS nb,
         cent_id AS cell
  FROM ranked WHERE crank = 1
), queries AS (
  SELECT vec_id AS query_id, q AS qq, nrm AS qnrm
  FROM eq WHERE vec_id % 100 = 0
), probes AS (
  SELECT query_id, qq, qnrm, probe_cell FROM (
    SELECT s.query_id, s.qq, s.qnrm, c.cent_id AS probe_cell,
           CAST(row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY CAST({_DOT_DUCK.format(a="s.qq", b="c.cq")} AS DOUBLE)
                        / (sqrt(CAST(s.qnrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
                      DESC, c.cent_id) AS INT) AS qrank
    FROM queries s CROSS JOIN cents c)
  WHERE qrank <= {_IVF_PROBES}
), cands AS (
  SELECT p.query_id, d.nbr_id, d.nbr_label,
         CAST({_DOT_DUCK.format(a="p.qq", b="d.qb")} AS DOUBLE)
           / (sqrt(CAST(p.qnrm AS DOUBLE)) * sqrt(CAST(d.nb AS DOUBLE))) AS cosine
  FROM probes p JOIN db d ON p.probe_cell = d.cell
  WHERE p.query_id != d.nbr_id
)
SELECT query_id, nbr_id, nbr_label, cosine, nn_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, nbr_id) AS BIGINT) AS nn_rank
  FROM cands)
WHERE nn_rank <= {_ANN_JOIN_K}
"""


def sim_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index growth — the ANN twin of
    dedup_incremental_lsh: a new batch of vectors is assigned to the
    STANDING corpus's existing centroids (broadcast; the standing
    assignments are reused from the staged index, never recomputed,
    and the quantizer is not retrained) and unioned into the posting
    lists; retrieval then spans old + new. This is how a 100 TB
    vector corpus absorbs a daily embedding batch: O(batch x sqrt(N))
    assignment work, an append of new postings into the cell layout
    (expressed here as a union — on a lake the batch lands as new
    files in the cell-partitioned dir), and zero touch of standing
    postings. The batch is a planted EXACT CLONE of every query
    vector (vec_id + 1_000_000, same planting discipline as
    dedup_embedding_cosine): identical vectors share the argmin
    centroid, so each query MUST surface its clone at nn_rank 1 with
    cosine ~1.0 — the entry is self-verifying, pinned by
    tests/test_scale_blocking.py::test_ann_index_append_sees_batch.
    Shares the staged IVF index with sim_ivf_multiprobe/sim_ann_join
    (same stage key), so no extra index build."""
    standing = _emb_q(spark, sf_dir)
    batch = standing.where(F.col("vec_id") % 100 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "q", "nrm"
    )
    emb, cents, ranked = _ivf_index(standing, stage_key=(sf_dir, "ivf"))
    old_posts = ranked.where(F.col("crank") == 1).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nbr_label"),
        F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
        F.col("cent_id").alias("cell"),
    )
    bcos = F.expr(_DOT.format(a="q", b="cq")).cast("double") / (
        F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("cnrm").cast("double"))
    )
    wb = W.partitionBy("vec_id").orderBy(F.desc("bcos"), F.asc("cent_id"))
    new_posts = (
        batch.crossJoin(F.broadcast(cents))
        .withColumn("bcos", bcos)
        .withColumn("brank", F.row_number().over(wb))
        .where(F.col("brank") == 1)
        .select(
            F.col("vec_id").alias("nbr_id"),
            F.col("label").alias("nbr_label"),
            F.col("q").alias("qb"),
            F.col("nrm").alias("nb"),
            F.col("cent_id").alias("cell"),
        )
    )
    posts = old_posts.unionByName(new_posts)
    queries = standing.where(F.col("vec_id") % 100 == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    qcos = F.expr(_DOT.format(a="qq", b="cq")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("cnrm").cast("double"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cent_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qcos", qcos)
        .withColumn("qrank", F.row_number().over(wq))
        .where(F.col("qrank") <= _IVF_PROBES)
        .select("query_id", "qq", "qnrm", F.col("cent_id").alias("probe_cell"))
    )
    cos = F.expr(_DOT.format(a="qq", b="qb")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    cands = (
        probes.join(posts, probes.probe_cell == posts.cell)
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", "nbr_label", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cands.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= 3)
        .select("query_id", "nbr_id", "nbr_label", "cosine", "nn_rank")
    )


_SIM_ANN_INDEX_APPEND_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), allv AS MATERIALIZED (
  SELECT vec_id, label, q, nrm FROM eq
  UNION ALL
  SELECT vec_id + 1000000, label, q, nrm FROM eq WHERE vec_id % 100 = 1
), prm AS (
  SELECT {_IVF_STRIDE} AS stride FROM (SELECT COUNT(*) AS n FROM eq)
), cents AS (
  SELECT vec_id AS cent_id, q AS cq, nrm AS cnrm
  FROM eq CROSS JOIN prm WHERE vec_id % stride = 0
), assign_all AS (
  SELECT e.vec_id, e.label, e.q, e.nrm, c.cent_id,
         CAST(row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY CAST({_DOT_DUCK.format(a="e.q", b="c.cq")} AS DOUBLE)
                      / (sqrt(CAST(e.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
                    DESC, c.cent_id) AS INT) AS crank
  FROM allv e CROSS JOIN cents c
), posts AS (
  SELECT vec_id AS nbr_id, label AS nbr_label, q AS qb, nrm AS nb,
         cent_id AS cell
  FROM assign_all WHERE crank = 1
), queries AS (
  SELECT vec_id AS query_id, q AS qq, nrm AS qnrm
  FROM eq WHERE vec_id % 100 = 1
), probes AS (
  SELECT query_id, qq, qnrm, probe_cell FROM (
    SELECT s.query_id, s.qq, s.qnrm, c.cent_id AS probe_cell,
           CAST(row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY CAST({_DOT_DUCK.format(a="s.qq", b="c.cq")} AS DOUBLE)
                        / (sqrt(CAST(s.qnrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE)))
                      DESC, c.cent_id) AS INT) AS qrank
    FROM queries s CROSS JOIN cents c)
  WHERE qrank <= {_IVF_PROBES}
), cands AS (
  SELECT p.query_id, d.nbr_id, d.nbr_label,
         CAST({_DOT_DUCK.format(a="p.qq", b="d.qb")} AS DOUBLE)
           / (sqrt(CAST(p.qnrm AS DOUBLE)) * sqrt(CAST(d.nb AS DOUBLE))) AS cosine
  FROM probes p JOIN posts d ON p.probe_cell = d.cell
  WHERE p.query_id != d.nbr_id
)
SELECT query_id, nbr_id, nbr_label, cosine, nn_rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, nbr_id) AS BIGINT) AS nn_rank
  FROM cands)
WHERE nn_rank <= 3
"""


def rag_retrieve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval — the RAG lookup closed end-to-end: the
    ANN top-5 (sim_ann_join, shared staged IVF index — no extra index
    build) is resolved from vector ids to the DOCUMENT payloads via
    an equi-join on doc_id, the join a retrieval service runs for
    every hit. Output carries the document fingerprint and token
    count instead of raw text (compact exact oracle; the text column
    itself never needs to leave the scan). At 100 TB the documents
    side is the big one: the hit set (Q x k rows) broadcasts onto it
    and the lookup is shuffle-free."""
    hits = sim_ann_join(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.md5("text").alias("doc_fp"),
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).cast("long").alias(
            "n_tokens"
        ),
    )
    return (
        F.broadcast(hits)
        .join(d, hits.nbr_id == d.doc_id)
        .select("query_id", "nn_rank", "nbr_id", "doc_fp", "n_tokens")
    )


_RAG_RETRIEVE_DOCS_SQL = f"""
WITH hits AS MATERIALIZED (
{_SIM_ANN_JOIN_SQL}
)
SELECT query_id, nn_rank, nbr_id,
       md5(text) AS doc_fp,
       CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
FROM hits JOIN documents ON nbr_id = doc_id
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): 64-dim vector -> 8 one-byte codes
# ---------------------------------------------------------------------------
#
# The storage-bound ANN answer at 100 TB: embeddings compress 16x
# (64 floats -> 8 codes into a sub-centroid codebook), and scoring is
# asymmetric-distance (ADC) — the query precomputes its distance to
# every sub-centroid (a tiny table, broadcast), and each database row
# is scored by 8 lookups + adds, never touching the original floats.
# Codebooks here are deterministic stride samples of the corpus
# subvectors (k-means sampled init, zero iterations — same discipline
# as the IVF quantizer, so both engines derive identical codebooks
# in-plan with no training state). All arithmetic is exact int64 on
# the micro-quantized values, so codes, distances, and the final
# ranking are bit-identical across engines.

_PQ_SUBSPACES = 8  # 8 subvectors x 8 dims
_PQ_SUBDIM = 8
_PQ_K = 16  # centroids per subspace (codes fit 4 bits; byte-aligned here)


def _pq_parts(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, svec): explode each quantized vector into its
    _PQ_SUBSPACES subvectors — a narrow transform."""
    return emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_SUBSPACES - 1}), s -> "
                f"struct(s AS sub, slice(q, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})"
                " AS svec))"
            )
        ).alias("p"),
    ).select("vec_id", F.col("p.sub").alias("sub"), F.col("p.svec").alias("svec"))


_PQ_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, v) -> acc + v)"
)
_PQ_SQDIST_DUCK = (
    "CAST(list_sum(list_transform(range(1, {n}), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-10 nearest neighbors to the query vector
    (vec_id=0) by asymmetric distance. Plan shape at scale: the
    codebook (stride-sampled, 16 centroids x 8 subspaces) and the
    query's 128-row distance table are BROADCAST; encoding is
    explode + per-(vec, sub) argmin window; scoring is an equi-join
    on (sub, code) + one sum per vector. The database side never
    rematerializes the floats — at 100 TB the codes table is the
    16x-smaller standing index and this query runs at ITS scan speed.
    Exact-parity: codes and distances are all int64 on micro-units;
    argmin/top-k ties break on centroid id / vec_id."""
    emb = _emb_q(spark, sf_dir).select("vec_id", "q")
    parts = _pq_parts(emb)
    # deterministic codebook: subvectors of every stride-th vector,
    # stride derived in-plan so ~_PQ_K centroids exist per subspace
    params = (
        emb.agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.expr(
                f"GREATEST(1, CAST(n AS BIGINT) div {_PQ_K}) AS stride"
            )
        )
    )
    cents = (
        parts.crossJoin(F.broadcast(params))
        .where(F.expr("vec_id % stride = 0"))
        .withColumn(
            "cid",
            F.expr("CAST(vec_id div stride AS INT)"),
        )
        .where(F.col("cid") < _PQ_K)
        .select("sub", "cid", F.col("svec").alias("cvec"))
        # K×subspaces rows (128), but referenced TWICE (encode join +
        # ADC table) and its lineage carries a full corpus scan (the
        # stride filter is not pushable), so each reference re-planned
        # the scan. Small-slate eager checkpoint: the codebook is
        # built once and both consumers read the 128-row slate.
        .localCheckpoint(eager=True)
    )
    # encode: per (vec, sub) the nearest centroid
    dist = F.expr(_PQ_SQDIST.format(a="svec", b="cvec"))
    wenc = W.partitionBy("vec_id", "sub").orderBy("d", "cid")
    codes = (
        parts.join(F.broadcast(cents), "sub")
        .withColumn("d", dist)
        .withColumn("rn", F.row_number().over(wenc))
        .where(F.col("rn") == 1)
        .select("vec_id", "sub", "cid")
    )
    # query ADC table: distance from the query's subvectors to every
    # centroid of the matching subspace (tiny: subspaces x K rows)
    qparts = _pq_parts(emb.where(F.col("vec_id") == 0)).select(
        "sub", F.col("svec").alias("qvec")
    )
    adc = (
        qparts.join(cents, "sub")
        .select(
            "sub",
            "cid",
            F.expr(_PQ_SQDIST.format(a="qvec", b="cvec")).alias("qd"),
        )
    )
    return (
        codes.where(F.col("vec_id") != 0)
        .join(F.broadcast(adc), ["sub", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("qd").alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )


_SIM_PQ_TOPK_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, {_QUANT_DUCK} AS q FROM embeddings
), parts AS MATERIALIZED (
  SELECT vec_id, s.sub,
         q[s.sub * {_PQ_SUBDIM} + 1 : s.sub * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS svec
  FROM eq, (SELECT unnest(range(0, {_PQ_SUBSPACES})) AS sub) s
), prm AS (
  SELECT GREATEST(1, COUNT(*) // {_PQ_K}) AS stride FROM eq
), cents AS MATERIALIZED (
  SELECT sub, CAST(vec_id // stride AS INT) AS cid, svec AS cvec
  FROM parts CROSS JOIN prm
  WHERE vec_id % stride = 0 AND vec_id // stride < {_PQ_K}
), codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT p.vec_id, p.sub, c.cid,
           row_number() OVER (
             PARTITION BY p.vec_id, p.sub
             ORDER BY {_PQ_SQDIST_DUCK.format(a="p.svec", b="c.cvec", n=f"{_PQ_SUBDIM + 1}")}, c.cid
           ) AS rn
    FROM parts p JOIN cents c USING (sub))
  WHERE rn = 1
), adc AS (
  SELECT c.sub, c.cid,
         {_PQ_SQDIST_DUCK.format(a="qp.svec", b="c.cvec", n=f"{_PQ_SUBDIM + 1}")} AS qd
  FROM (SELECT sub, svec FROM parts WHERE vec_id = 0) qp
  JOIN cents c USING (sub)
)
SELECT vec_id, CAST(SUM(qd) AS BIGINT) AS adc_dist
FROM codes JOIN adc USING (sub, cid)
WHERE vec_id != 0
GROUP BY vec_id
ORDER BY adc_dist, vec_id
LIMIT 10
"""


# Persisted IVF index tables (cross-RUN ANN, the similarity twin of
# dedup_incremental_lsh's persisted band index): centroids + posting
# lists land as parquet tables under tmp, posting lists BUCKETED on
# the cell id so a later session's retrieval join consumes them with
# no index-side shuffle and no assignment recomputation. The catalog
# entry is session-scoped (in-memory catalog), so a fresh session
# rebuilds from the current fixture — no stale-index hazard.
_ANN_INDEX_BUCKETS = 8


def _ivf_index_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The persisted IVF index, built once per session+dataset:
    returns (centroids_table, postings_table)."""
    import os

    def build() -> tuple[str, str]:
        cents_name = os.path.basename(staging_path(None, sf_dir, "ivf_cents"))
        post_name = os.path.basename(staging_path(None, sf_dir, "ivf_postings"))
        emb, cents, ranked = _ivf_index(_emb_q(spark, sf_dir), stage_key=(sf_dir, "ivf"))
        spark.sql(f"DROP TABLE IF EXISTS {cents_name}")
        spark.sql(f"DROP TABLE IF EXISTS {post_name}")
        (
            cents.write.format("parquet")
            .option("path", staging_path(spark, sf_dir, "ivf_cents"))
            .mode("overwrite")
            .saveAsTable(cents_name)
        )
        (
            ranked.where(F.col("crank") == 1)
            .select(
                F.col("vec_id").alias("nbr_id"),
                F.col("label").alias("nbr_label"),
                F.col("q").alias("qb"),
                F.col("nrm").alias("nb"),
                F.col("cent_id").alias("cell"),
            )
            .write.format("parquet")
            .bucketBy(_ANN_INDEX_BUCKETS, "cell")
            .sortBy("cell")
            .option("path", staging_path(spark, sf_dir, "ivf_post"))
            .mode("overwrite")
            .saveAsTable(post_name)
        )
        return cents_name, post_name

    return front(spark, sf_dir, "ivf_index", build)


def sim_ann_join_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN join served from the PERSISTED IVF index: centroids and
    bucketed posting lists are read back as tables — no corpus scan,
    no assignment recomputation, and the candidate join consumes the
    bucketed postings without shuffling them (plan-asserted in
    tests/test_bucketing.py::test_ivf_postings_join_no_index_shuffle).
    Results are identical to `sim_ann_join` (same quantizer, same
    probes), so it shares that entry's oracle — what changes is WHERE
    the index lives: across runs instead of across consumers in one
    session. At 100 TB this is the difference between an index
    build per query session and one standing index table."""
    cents_t, post_t = _ivf_index_tables(spark, sf_dir)
    cents = spark.table(cents_t)
    db = spark.table(post_t)
    queries = _emb_q(spark, sf_dir).where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nrm").alias("qnrm"),
    )
    qcos = F.expr(_DOT.format(a="qq", b="cq")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("cnrm").cast("double"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cent_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qcos", qcos)
        .withColumn("qrank", F.row_number().over(wq))
        .where(F.col("qrank") <= _IVF_PROBES)
        .select("query_id", "qq", "qnrm", F.col("cent_id").alias("probe_cell"))
    )
    cos = F.expr(_DOT.format(a="qq", b="qb")).cast("double") / (
        F.sqrt(F.col("qnrm").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    cands = (
        probes.join(db, probes.probe_cell == db.cell)
        .where(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id", "nbr_label", cos.alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        cands.withColumn("nn_rank", F.row_number().over(w).cast("long"))
        .where(F.col("nn_rank") <= _ANN_JOIN_K)
        .select("query_id", "nbr_id", "nbr_label", "cosine", "nn_rank")
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (the dedup north-star op):
    candidate pairs are generated ONLY within a hyperplane-LSH cell
    (equi-join blocking on a key whose cardinality grows with the
    corpus — never a global cross join, never a fixed-k block) and
    kept when cosine >= 0.9999. Identical embeddings always share a
    cell, so planted exact duplicates are never missed. The natural
    corpus has no near-dups (max within-label cosine ≈ 0.41), so each
    vector is planted a duplicate copy (vec_id + 1_000_000, identical
    embedding) — every original must rediscover exactly its copy,
    making the result a full functional check of the pipeline. Keeper
    = lower vec_id (deterministic survivor)."""
    emb = _emb_q(spark, sf_dir)
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "q", "nrm"
    )
    allv = _celled(
        emb.unionByName(planted), _NBITS_PAIR, stage_key=(sf_dir, "dedup_cos_sigs")
    )
    a = allv.select(
        F.col("vec_id").alias("keeper_id"),
        "label",
        F.col("cell").alias("cell"),
        F.col("q").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = allv.select(
        F.col("vec_id").alias("dup_id"),
        F.col("cell").alias("cell"),
        F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.expr(_DOT.format(a="qa", b="qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        a.join(b, "cell")
        .where(F.col("keeper_id") < F.col("dup_id"))
        .select("keeper_id", "dup_id", "label", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.9999)
    )


_DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), allv AS MATERIALIZED (
  SELECT vec_id, label, q, nrm FROM eq
  UNION ALL
  SELECT vec_id + 1000000, label, q, nrm FROM eq
), {_celled_duck("allv", _NBITS_PAIR)}, pairs AS (
  SELECT a.vec_id AS keeper_id, b.vec_id AS dup_id, a.label,
         CAST({_DOT_DUCK.format(a="a.q", b="b.q")} AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cosine
  FROM celled a JOIN celled b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT keeper_id, dup_id, label, cosine FROM pairs WHERE cosine >= 0.9999
"""


# ---------------------------------------------------------------------------
# dedup_semdedup — semantic dedup inside k-means clusters (SemDeDup)
# ---------------------------------------------------------------------------


def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP (Abbas et al. 2023) — semantic deduplication scoped
    to k-means clusters: embed, cluster, and search for near-dup
    pairs ONLY within a cluster, the design that made embedding-level
    dedup tractable on web-scale corpora (pair cost N²/K instead of
    N², with K grown ~N/c̄ in production — here K is the fixture's
    fixed `_KM_K`, documented). This engine composes it from two
    STAGED fronts it already maintains: the Lloyd assignment
    (`_km_assign`, shared with ml_kmeans_fixed/ml_cluster_medoid) and
    the hyperplane-LSH signature frame (`_celled` under the SAME
    stage key as dedup_embedding_cosine — one signature build serves
    both entries), so candidates must agree on (cluster, cell) — the
    cluster is SemDeDup's scoping, the cell keeps the within-cluster
    search sub-quadratic at any cluster size. Fixture corpus has no
    natural near-dups, so each vector is planted an exact copy
    (vec_id + 1_000_000) whose assignment provably equals its
    source's (identical vector, same centroid argmin) — every
    original must rediscover its copy WITH the cluster label
    attached, making the run a functional check of the whole
    cluster-scoped pipeline. Output adds the cluster size (the
    quantity SemDeDup's cost model is about); keeper = lower
    vec_id."""
    emb = _emb_q(spark, sf_dir)
    planted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "label", "q", "nrm"
    )
    allv = _celled(
        emb.unionByName(planted), _NBITS_PAIR, stage_key=(sf_dir, "dedup_cos_sigs")
    )
    asg = _km_assign(spark, sf_dir).select(
        F.col("vec_id").alias("src_id"), "cluster_id"
    )
    csize = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_cluster")
    )
    allc = allv.withColumn(
        "src_id",
        F.expr(
            "CASE WHEN vec_id >= 1000000 THEN vec_id - 1000000"
            " ELSE vec_id END"
        ),
    ).join(asg, "src_id")
    a = allc.select(
        F.col("vec_id").alias("keeper_id"),
        "cluster_id",
        "cell",
        F.col("q").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = allc.select(
        F.col("vec_id").alias("dup_id"),
        "cluster_id",
        "cell",
        F.col("q").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.expr(_DOT.format(a="qa", b="qb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        a.join(b, ["cluster_id", "cell"])
        .where(F.col("keeper_id") < F.col("dup_id"))
        .select("cluster_id", "keeper_id", "dup_id", cos.alias("cosine"))
        .where(F.col("cosine") >= 0.9999)
        .join(F.broadcast(csize), "cluster_id")
        .select("cluster_id", "n_cluster", "keeper_id", "dup_id", "cosine")
    )


def _semdedup_sql() -> str:
    return f"""
WITH asg AS MATERIALIZED (
  SELECT * FROM ({_kmeans_sql()})
), eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), allv AS MATERIALIZED (
  SELECT vec_id, label, q, nrm FROM eq
  UNION ALL
  SELECT vec_id + 1000000, label, q, nrm FROM eq
), {_celled_duck("allv", _NBITS_PAIR)}, csize AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cluster
  FROM asg GROUP BY cluster_id
), allc AS (
  SELECT c.vec_id, c.q, c.nrm, c.cell, a.cluster_id
  FROM celled c
  JOIN asg a ON a.vec_id = CASE WHEN c.vec_id >= 1000000
                                THEN c.vec_id - 1000000
                                ELSE c.vec_id END
), pairs AS (
  SELECT a.cluster_id, a.vec_id AS keeper_id, b.vec_id AS dup_id,
         CAST({_DOT_DUCK.format(a="a.q", b="b.q")} AS DOUBLE)
           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE)))
           AS cosine
  FROM allc a
  JOIN allc b ON a.cluster_id = b.cluster_id AND a.cell = b.cell
             AND a.vec_id < b.vec_id
)
SELECT p.cluster_id, c.n_cluster, p.keeper_id, p.dup_id, p.cosine
FROM pairs p JOIN csize c USING (cluster_id)
WHERE p.cosine >= 0.9999
"""


# ---------------------------------------------------------------------------
# ml_kmeans_fixed — fixed-iteration Lloyd's k-means, exact integer
# ---------------------------------------------------------------------------

_KM_K, _KM_ITERS = 8, 2
_KM_DIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, v) -> acc + v)"
)
_KM_DIST_DUCK = (
    "CAST(list_sum(list_transform(range(1, 65),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
)


def _km_assign_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-staged Lloyd iteration: centroids broadcast to a
    map-side N x K assignment (no vector shuffle), the update is ONE
    (cluster, coordinate) hash aggregate per round. Kept separate
    from the memoizer so the plan pin asserts the builder's physical
    shape (tests/test_plan_shapes.py). Returns (vec_id, q,
    cluster_id, dist) — q rides along so downstream consumers
    (the medoid election) never re-join the embeddings table."""
    vecs = _emb_q(spark, sf_dir).select("vec_id", "q")
    cents_ = vecs.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    for _ in range(_KM_ITERS):
        dist = F.expr(_KM_DIST.format(a="q", b="cq"))
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        assigned = (
            vecs.crossJoin(F.broadcast(cents_))
            .withColumn("dist", dist)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "q", F.col("cid").alias("cluster_id"), "dist")
        )
        coords = assigned.select(
            "cluster_id", F.posexplode("q").alias("pos", "coord")
        )
        cents_ = (
            coords.groupBy("cluster_id", "pos")
            .agg(F.expr("sum(coord) div count(1)").alias("c"))
            .groupBy("cluster_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, c))),"
                    " s -> s.c)"
                ).alias("cq")
            )
            .select(F.col("cluster_id").alias("cid"), "cq")
        )
    return assigned


# The k-means assignment front (vec_id, q, cluster_id, dist), staged
# per (application, dataset): the fixed-iteration Lloyd subtree is
# consumed by ml_kmeans_fixed AND three times inside
# ml_cluster_medoid's medoid election (min-dist table, medoid pick,
# member distances) — unstaged, Catalyst re-evaluates the whole
# unrolled iteration per consumer. Production persists the
# assignment as the clustering artifact, so the staged shape is the
# realistic one.
def _km_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "km_assign",
        lambda: _km_assign_build(spark, sf_dir).localCheckpoint(eager=True),
        owner="ml_kmeans_fixed",
    )


def ml_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's K-MEANS with a FIXED iteration count and deterministic
    seeding — the embedding-space partitioner behind coarse IVF
    training and diversity-aware curation, made exactly reproducible:
    coordinates are the standard 1e-6 fixed-point int64 quantization,
    distances are integer squared-L2, centroid updates are
    per-coordinate TRUNCATING integer division (both engines truncate
    toward zero — the engine-identical mean), and seeds are the K
    lowest vec_ids. Every step is therefore bit-identical to the
    unrolled SQL oracle. The Spark shape is the production one:
    centroids broadcast to a map-side N x K assignment (no shuffle),
    the update is ONE (cluster, coordinate) hash aggregate, and the
    iteration count is a constant — at 100 TB each Lloyd round costs
    one broadcast + one partial-aggregable shuffle of K x 64 cells.
    Output: final assignment + distance per vector; the assignment
    front itself is staged per (app, dataset) — see ``_km_assign``."""
    return _km_assign(spark, sf_dir).select("vec_id", "cluster_id", "dist")


def _kmeans_sql() -> str:
    d = _KM_DIST_DUCK
    sql = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, {_QUANT_DUCK} AS q FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, q AS cq FROM vecs WHERE vec_id < {_KM_K}
)"""
    prev = "c0"
    for i in range(1, _KM_ITERS + 1):
        dist = d.format(a="v.q", b="c.cq")
        sql += f""", a{i} AS (
  SELECT * FROM (
    SELECT v.vec_id, v.q, c.cid AS cluster_id, {dist} AS dist,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM vecs v CROSS JOIN {prev} c
  ) WHERE rn = 1
), c{i} AS (
  SELECT cluster_id AS cid, list(c ORDER BY pos) AS cq FROM (
    SELECT cluster_id, pos, SUM(coord) // COUNT(*) AS c FROM (
      SELECT a.cluster_id, t.pos, a.q[t.pos] AS coord
      FROM a{i} a CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) t
    ) GROUP BY cluster_id, pos
  ) GROUP BY cluster_id
)"""
        prev = f"c{i}"
    sql += f"""
SELECT vec_id, cluster_id, dist FROM a{_KM_ITERS}
"""
    return sql


# ---------------------------------------------------------------------------
# ml_knn_classify — k-nearest-neighbor majority-vote labeling
# ---------------------------------------------------------------------------

_KNN_CLS_K = 5
_KNN_TEST_MOD = 10  # vec_id % 10 == 0 is the held-out set


def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFICATION over the embedding space: every held-out
    vector (vec_id % 10 = 0) takes the MAJORITY LABEL of its 5
    nearest training neighbors by cosine — the classic
    label-propagation / auto-labeling primitive, and the first
    consumer of the embeddings table's ground-truth label column
    (accuracy is directly inspectable via the `correct` flag). The
    neighbor rank and the vote both break ties deterministically
    (neighbor id; then vote count desc, label asc) so the prediction
    is exactly reproducible on both engines. This entry is the
    brute-force exact baseline — at 100 TB the identical rank+vote
    tail runs on sim_ann_join's IVF candidates instead of the full
    cross product (same discipline as sim_knn_blocked vs _full)."""
    emb = _emb_q(spark, sf_dir)
    test = emb.where(F.col("vec_id") % _KNN_TEST_MOD == 0).select(
        F.col("vec_id").alias("tid"),
        F.col("label").alias("true_label"),
        F.col("q").alias("tq"),
        F.col("nrm").alias("tn"),
    )
    train = emb.where(F.col("vec_id") % _KNN_TEST_MOD != 0).select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("q").alias("nq"),
        F.col("nrm").alias("nn"),
    )
    cos = F.expr(_DOT.format(a="tq", b="nq")).cast("double") / (
        F.sqrt(F.col("tn").cast("double")) * F.sqrt(F.col("nn").cast("double"))
    )
    wr = W.partitionBy("tid").orderBy(F.desc("cos"), F.asc("nid"))
    neigh = (
        train.join(F.broadcast(test))
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= _KNN_CLS_K)
    )
    votes = neigh.groupBy("tid", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = W.partitionBy("tid").orderBy(F.desc("votes"), F.asc("nlabel"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .where(F.col("vr") == 1)
        .select(
            F.col("tid").alias("vec_id"),
            F.col("nlabel").alias("pred_label"),
            "votes",
            "true_label",
            (F.col("nlabel") == F.col("true_label")).alias("correct"),
        )
    )


_ML_KNN_CLASSIFY_SQL = f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, label, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), test AS (
  SELECT vec_id AS tid, label AS true_label, q AS tq, nrm AS tn
  FROM eq WHERE vec_id % {_KNN_TEST_MOD} = 0
), train AS (
  SELECT vec_id AS nid, label AS nlabel, q AS nq, nrm AS nn
  FROM eq WHERE vec_id % {_KNN_TEST_MOD} != 0
), neigh AS (
  SELECT * FROM (
    SELECT t.tid, t.true_label, n.nlabel, n.nid,
           row_number() OVER (
             PARTITION BY t.tid
             ORDER BY CAST({_DOT_DUCK.format(a="t.tq", b="n.nq")} AS DOUBLE)
                      / (sqrt(CAST(t.tn AS DOUBLE))
                         * sqrt(CAST(n.nn AS DOUBLE))) DESC,
                      n.nid
           ) AS rn
    FROM test t CROSS JOIN train n
  ) WHERE rn <= {_KNN_CLS_K}
), votes AS (
  SELECT tid, true_label, nlabel, CAST(COUNT(*) AS BIGINT) AS votes
  FROM neigh GROUP BY 1, 2, 3
)
SELECT tid AS vec_id, nlabel AS pred_label, votes, true_label,
       nlabel = true_label AS correct
FROM (
  SELECT *, row_number() OVER (PARTITION BY tid
                               ORDER BY votes DESC, nlabel) AS vr
  FROM votes
) WHERE vr = 1
"""


# ---------------------------------------------------------------------------
# ml_pca_power — top principal direction by exact power iteration
# ---------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_SCALE = 1_000_000


def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL DIRECTION of the embedding cloud by POWER
    ITERATION — distributed linear algebra as joins: the 64x64 Gram
    matrix comes from ONE self-join of the position-exploded
    coordinates (the classic X^T X shuffle — work is rows x dim^2,
    never rows^2), then each iteration is a broadcast matvec
    (join + keyed sum) followed by max-abs renormalization. Floats
    would make the iterate engine-divergent, so everything is
    integer: Gram entries are exact int64, the matvec accumulates in
    DECIMAL(38,0)/HUGEINT (terms reach ~1e22), and renormalization
    is the truncating v' = w·1e6 div max|w| — bit-identical on both
    engines at every step. The entry's DEFINED output is the iterate
    after a FIXED 3 steps from the all-ones seed (mirrored by the
    unrolled SQL); convergence to the top eigendirection depends on
    the spectral gap — production raises the iteration count, the
    per-step plan is identical. At 100 TB only the Gram pass touches
    data; iterations run on a 64-vector."""
    vecs = _emb_q(spark, sf_dir).select("vec_id", "q")
    coords = vecs.select(
        "vec_id", F.posexplode("q").alias("pos", "val")
    )
    a = coords.select("vec_id", F.col("pos").alias("i"), F.col("val").alias("vi"))
    b = coords.select(
        F.col("vec_id").alias("vec_id2"),
        F.col("pos").alias("j"),
        F.col("val").alias("vj"),
    )
    gram = (
        a.join(b, F.col("vec_id") == F.col("vec_id2"))
        .groupBy("i", "j")
        .agg(F.sum(F.expr("vi * vj")).alias("c"))
    ).localCheckpoint(eager=True)
    v = spark.range(64).select(
        F.col("id").cast("int").alias("j"),
        F.lit(_PCA_SCALE).cast("long").alias("vj"),
    )
    for _ in range(_PCA_ITERS):
        w = (
            gram.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr("CAST(c AS DECIMAL(38,0)) * vj")
                ).alias("w")
            )
        )
        mx = w.agg(F.max(F.expr("abs(w)")).alias("mx"))
        v = (
            w.crossJoin(F.broadcast(mx))
            .select(
                F.col("i").alias("j"),
                F.expr(
                    f"CAST((w * {_PCA_SCALE}) div mx AS BIGINT)"
                ).alias("vj"),
            )
        )
    return v.select(F.col("j").alias("pos"), F.col("vj").alias("coord"))


def _pca_sql() -> str:
    sql = f"""
WITH vecs AS (
  SELECT vec_id, {_QUANT_DUCK} AS q FROM embeddings
), coords AS (
  SELECT vec_id, t.pos - 1 AS pos, q[t.pos] AS val
  FROM vecs CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) t
), gram AS (
  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.val * b.val) AS BIGINT) AS c
  FROM coords a JOIN coords b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
), v0 AS (
  SELECT pos AS j, CAST({_PCA_SCALE} AS BIGINT) AS vj
  FROM (SELECT unnest(range(0, 64)) AS pos)
)"""
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        sql += f""", w{it} AS (
  SELECT g.i, SUM(CAST(g.c AS HUGEINT) * v.vj) AS w
  FROM gram g JOIN {prev} v ON g.j = v.j
  GROUP BY g.i
), v{it} AS (
  SELECT w.i AS j,
         CAST((w.w * {_PCA_SCALE}) // (SELECT MAX(abs(w)) FROM w{it})
              AS BIGINT) AS vj
  FROM w{it} w
)"""
        prev = f"v{it}"
    sql += f"""
SELECT j AS pos, vj AS coord FROM {prev}
"""
    return sql


# ---------------------------------------------------------------------------
# ml_cluster_medoid — SemDeDup-style cluster representatives
# ---------------------------------------------------------------------------

def ml_cluster_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER REPRESENTATIVES over the k-means partition — the
    SemDeDup shape of semantic dataset pruning: each cluster elects
    its MEDOID (member closest to the centroid; ties to the lowest
    id via a two-step exact argmin — no packed keys, no floats), and
    members that sit much closer to the medoid than the cluster's
    average (2·d²·n < Σd², a data-adaptive integer rule) are marked
    PRUNE as semantic near-duplicates of the representative. All
    distances are int64 squared-L2 on the fixed-point grid; the
    K-row medoid table broadcasts. This is the curation step between
    clustering and training-set assembly at 100 TB — keep the
    medoid, drop its redundant orbit."""
    # the staged assignment front carries q, so the medoid election
    # and the member distances run over ONE materialized frame — no
    # embeddings re-join, no re-run of the Lloyd iteration subtree
    asg = _km_assign(spark, sf_dir)
    m1 = asg.groupBy("cluster_id").agg(F.min("dist").alias("mind"))
    medoid = (
        asg.join(m1, "cluster_id")
        .where(F.col("dist") == F.col("mind"))
        .groupBy("cluster_id")
        .agg(F.min("vec_id").alias("medoid_id"))
    )
    medvec = medoid.join(
        asg.select(
            F.col("vec_id").alias("medoid_id"), F.col("q").alias("mq")
        ),
        "medoid_id",
    )
    d2m = F.expr(_KM_DIST.format(a="q", b="mq"))
    members = asg.join(F.broadcast(medvec), "cluster_id").withColumn(
        "d2_medoid", d2m
    )
    stats = members.groupBy(F.col("cluster_id").alias("sc")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2_medoid").alias("sum_d2"),
    )
    return (
        members.join(
            F.broadcast(stats), members["cluster_id"] == stats["sc"]
        )
        .select(
            "vec_id",
            "cluster_id",
            (F.col("vec_id") == F.col("medoid_id")).alias("is_medoid"),
            "d2_medoid",
            "n_members",
            F.expr(
                "CASE WHEN vec_id = medoid_id THEN FALSE"
                " ELSE 2 * d2_medoid * n_members < sum_d2 END"
            ).alias("prune"),
        )
    )


def _medoid_sql() -> str:
    return f"""
WITH asg AS MATERIALIZED (
  SELECT * FROM ({_kmeans_sql()})
), vecs AS (
  SELECT vec_id, {_QUANT_DUCK} AS q FROM embeddings
), m1 AS (
  SELECT cluster_id, MIN(dist) AS mind FROM asg GROUP BY cluster_id
), medoid AS (
  SELECT a.cluster_id, MIN(a.vec_id) AS medoid_id
  FROM asg a JOIN m1 ON a.cluster_id = m1.cluster_id
  WHERE a.dist = m1.mind
  GROUP BY a.cluster_id
), medvec AS (
  SELECT m.cluster_id, m.medoid_id, v.q AS mq
  FROM medoid m JOIN vecs v ON v.vec_id = m.medoid_id
), members AS (
  SELECT a.vec_id, a.cluster_id, mv.medoid_id,
         {_KM_DIST_DUCK.format(a="v.q", b="mv.mq")} AS d2_medoid
  FROM asg a
  JOIN vecs v ON v.vec_id = a.vec_id
  JOIN medvec mv ON mv.cluster_id = a.cluster_id
), stats AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(d2_medoid) AS BIGINT) AS sum_d2
  FROM members GROUP BY cluster_id
)
SELECT m.vec_id, m.cluster_id, m.vec_id = m.medoid_id AS is_medoid,
       m.d2_medoid, s.n_members,
       CASE WHEN m.vec_id = m.medoid_id THEN FALSE
            ELSE 2 * m.d2_medoid * s.n_members < s.sum_d2 END AS prune
FROM members m JOIN stats s ON m.cluster_id = s.cluster_id
"""


# ---------------------------------------------------------------------------
# ml_eval_confusion — confusion matrix + per-class metrics
# ---------------------------------------------------------------------------

def ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL EVALUATION over ml_knn_classify's predictions: the
    per-class PRECISION / RECALL / F1 report (in exact integer ppm)
    derived from the confusion counts — the eval primitive that
    closes the train/predict/evaluate loop. Support, predicted
    count, and true positives come from three partial-aggregable
    aggregates over the small prediction relation; F1 is the exact
    rational 2·tp·1e6 div (pred + support) (the harmonic mean
    identity on counts — no intermediate float precision/recall).
    Classes never predicted or never present still appear via the
    full outer key union with zero counts.

    Scale shape: the prediction relation is referenced THREE times
    (support / predicted / tp) and each reference re-planned the
    entire kNN classify underneath it (6 parquet scans per call);
    it is row-bounded (one row per eval example) and eagerly
    localCheckpointed per the small-slate rule, so the classifier
    runs once and the three aggregates read the materialized
    frame."""
    pred = (
        ml_knn_classify(spark, sf_dir)
        .select("true_label", "pred_label")
        .localCheckpoint(eager=True)
    )
    support = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("support")
    )
    predicted = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("predicted")
    )
    tp = (
        pred.where(F.col("true_label") == F.col("pred_label"))
        .groupBy(F.col("true_label").alias("label"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    base = (
        support.join(predicted, "label", "full_outer")
        .join(tp, "label", "full_outer")
        .select(
            "label",
            F.coalesce("support", F.lit(0)).alias("support"),
            F.coalesce("predicted", F.lit(0)).alias("predicted"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return base.select(
        "label",
        "support",
        "predicted",
        "tp",
        F.expr(
            "CASE WHEN predicted = 0 THEN NULL"
            " ELSE (tp * 1000000) div predicted END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN support = 0 THEN NULL"
            " ELSE (tp * 1000000) div support END"
        ).alias("recall_ppm"),
        F.expr(
            "CASE WHEN predicted + support = 0 THEN NULL"
            " ELSE (2 * tp * 1000000) div (predicted + support) END"
        ).alias("f1_ppm"),
    )


_ML_EVAL_CONFUSION_SQL = f"""
WITH pred AS (
  SELECT true_label, pred_label FROM ({_ML_KNN_CLASSIFY_SQL})
), support AS (
  SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS support
  FROM pred GROUP BY 1
), predicted AS (
  SELECT pred_label AS label, CAST(COUNT(*) AS BIGINT) AS predicted
  FROM pred GROUP BY 1
), tp AS (
  SELECT true_label AS label, CAST(COUNT(*) AS BIGINT) AS tp
  FROM pred WHERE true_label = pred_label GROUP BY 1
), base AS (
  SELECT COALESCE(s.label, p.label, t.label) AS label,
         COALESCE(s.support, 0) AS support,
         COALESCE(p.predicted, 0) AS predicted,
         COALESCE(t.tp, 0) AS tp
  FROM support s
  FULL OUTER JOIN predicted p ON s.label = p.label
  FULL OUTER JOIN tp t ON COALESCE(s.label, p.label) = t.label
)
SELECT label, support, predicted, tp,
       CASE WHEN predicted = 0 THEN NULL
            ELSE (tp * 1000000) // predicted END AS precision_ppm,
       CASE WHEN support = 0 THEN NULL
            ELSE (tp * 1000000) // support END AS recall_ppm,
       CASE WHEN predicted + support = 0 THEN NULL
            ELSE (2 * tp * 1000000) // (predicted + support) END AS f1_ppm
FROM base
"""


# ---------------------------------------------------------------------------
# samp_kcenter_coreset — farthest-point (k-center) coverage sampling
# ---------------------------------------------------------------------------

_KCENTER_K = 5


def samp_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER CORESET (farthest-point traversal) — the coverage-
    maximizing sample selection used to pick a diverse training
    subset / eval slate from an embedding corpus (the Gonzalez 2-apx
    to k-center; SemDeDup's complement: instead of dropping
    near-dups, PICK the spread). Greedy by definition: seed = vec 0,
    then k-1 rounds of 'farthest remaining point from the selected
    set' (ties to the smallest vec_id). Every round is ONE
    distributed job over the corpus — join against the ≤k-row
    broadcast selected set, per-vector MIN of the exact int64
    squared L2 (na + nb − 2·dot over the ppm-quantized vectors, the
    similarity-stack discipline), TakeOrdered(1) argmax — so the
    corpus is never all-paired and each round's shuffle carries one
    row. The selected frame is an eager localCheckpoint per round
    (flat lineage). The DuckDB twin unrolls the same rounds as
    chained CTEs; d2_at_pick is the pick's coverage radius (the
    k-center objective value as the rounds proceed)."""
    emb = _emb_q(spark, sf_dir).localCheckpoint(eager=True)
    seed = (
        emb.where(F.col("vec_id") == 0)
        .select(
            F.lit(1).cast("long").alias("pick_rank"),
            "vec_id",
            F.lit(None).cast("long").alias("d2_at_pick"),
        )
        .localCheckpoint(eager=True)
    )
    picks = [seed]
    sel_ids = seed.select("vec_id")
    d2 = (
        F.col("nrm")
        + F.col("s_nrm")
        - 2 * F.expr(_DOT.format(a="q", b="s_q"))
    )
    for r in range(2, _KCENTER_K + 1):
        sel = emb.join(sel_ids, "vec_id", "left_semi").select(
            F.col("q").alias("s_q"), F.col("nrm").alias("s_nrm")
        )
        far = (
            emb.join(sel_ids, "vec_id", "left_anti")
            .join(F.broadcast(sel))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("dmin"))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("pick_rank"),
                "vec_id",
                F.col("dmin").alias("d2_at_pick"),
            )
            .localCheckpoint(eager=True)
        )
        picks.append(far)
        sel_ids = sel_ids.union(far.select("vec_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out


def _kcenter_sql() -> str:
    dot = _DOT_DUCK.format(a="v.q", b="s.q")
    # Two DuckDB-planner disciplines, both load-bearing at 10x scale:
    # (1) every chain CTE is AS MATERIALIZED — plain CTEs inline at
    # each reference and the sel{r} -> p{r} -> c{r} -> sel{r-1} chain
    # re-expands its whole prefix per reference; (2) the selected set
    # joins eq BEFORE the cross join, so the corpus x selected
    # product is N x (r-1) rows — written as `JOIN eq s ON s.vec_id
    # IN (subq)` the planner kept the condition on the cross product
    # and evaluated the 64-term dot lambda for all N^2 pairs
    # (~minutes at 5k vectors, instant in this form).
    rounds = []
    for r in range(2, _KCENTER_K + 1):
        prev = f"sel{r - 1}"
        rounds.append(
            f"""c{r} AS MATERIALIZED (
  SELECT v.vec_id, MIN(v.nrm + s.nrm - 2 * ({dot})) AS dmin
  FROM eq v CROSS JOIN (
    SELECT e.q, e.nrm FROM eq e JOIN {prev} sl ON e.vec_id = sl.vec_id
  ) s
  WHERE v.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY v.vec_id
), p{r} AS MATERIALIZED (
  SELECT CAST({r} AS BIGINT) AS pick_rank, vec_id,
         CAST(dmin AS BIGINT) AS d2_at_pick
  FROM c{r} ORDER BY dmin DESC, vec_id LIMIT 1
), sel{r} AS MATERIALIZED (
  SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM p{r}
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM p{r}" for r in range(2, _KCENTER_K + 1)
    )
    return f"""
WITH eq AS MATERIALIZED (
  SELECT vec_id, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), sel1 AS (
  SELECT vec_id FROM eq WHERE vec_id = 0
), {", ".join(rounds)}
SELECT CAST(1 AS BIGINT) AS pick_rank, vec_id,
       CAST(NULL AS BIGINT) AS d2_at_pick
FROM sel1
UNION ALL
{unions}
"""


# ---------------------------------------------------------------------------
# profile_embedding_drift — per-language centroid vs corpus centroid
# ---------------------------------------------------------------------------

_EMB_DRIFT_PPM = 900_000  # alert when centroid cosine < 0.9


def profile_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DRIFT — the profile_* family extended to the
    vector column: each language's centroid embedding compared (by
    cosine) against the corpus centroid. A language whose centroid
    swings away from the corpus is exactly what silently breaks a
    shared ANN index or a monolingual-trained classifier downstream.
    Mechanism: quantized int vectors posexplode to (lang, dim, val)
    — 64x rows but map-side partial aggregation collapses them in
    the scan stage; centroids are SIGN-SPLIT truncating integer
    means per dimension (floor-vs-trunc on negatives is the usual
    cross-engine hazard); the 64-term dot/norms are exact int64
    (centroid values <= |q|max, so products stay < 2^53 and the
    final floor(dot/(|a||b|)*1e6) lands on the same integer in both
    engines — the rag_mmr_rerank fixed-point-cosine argument).
    Corpus centroid broadcasts onto the per-lang join.

    Scale shape: ONE pass over the corpus. The per-(lang, dim)
    partial sums are the sufficient statistic for everything
    downstream — the corpus centroid is the lang-sum of the
    per-lang sums and n_vecs is the per-lang row count at any dim
    (q is fixed-width, so every vector contributes one row per
    dim) — so the lang×64 aggregate is eagerly localCheckpointed
    (small-slate rule) and the centroid/cosine algebra runs off it.
    The first cut re-planned the emb⋈docs explode THREE times
    (per-lang / global / counts branches — 6 parquet scans)."""
    emb = _emb_q(spark, sf_dir).select("vec_id", "q")
    lang = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    dims = (
        emb.join(lang, "vec_id")
        .select("lang", F.posexplode("q").alias("dim", "val"))
    )
    sdiv = (
        "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"
    )
    base = (
        dims.groupBy("lang", "dim")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    per_lang = base.select("lang", "dim", F.expr(sdiv).alias("c"))
    global_c = (
        base.groupBy("dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .select("dim", F.expr(sdiv).alias("g"))
    )
    stats = (
        per_lang.join(F.broadcast(global_c), "dim")
        .groupBy("lang")
        .agg(
            F.sum(F.expr("c * g")).alias("dot"),
            F.sum(F.expr("c * c")).alias("nl"),
            F.sum(F.expr("g * g")).alias("ng"),
        )
    )
    counts = base.groupBy("lang").agg(F.max("n").alias("n_vecs"))
    return (
        stats.join(counts, "lang")
        .select(
            "lang",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.expr(
                "CASE WHEN nl = 0 OR ng = 0 THEN NULL ELSE"
                " CAST(floor(CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(ng AS DOUBLE)))"
                " * 1000000.0) AS BIGINT) END"
            ).alias("cos_corpus_ppm"),
        )
        .withColumn(
            "drift_flag",
            (
                F.coalesce(F.col("cos_corpus_ppm"), F.lit(0))
                < _EMB_DRIFT_PPM
            ).cast("long"),
        )
    )


_PROFILE_EMBEDDING_DRIFT_SQL = f"""
WITH eq AS (
  SELECT vec_id, {_QUANT_DUCK} AS q FROM embeddings
), dims AS (
  SELECT d.lang,
         generate_subscripts(eq.q, 1) AS dim,
         unnest(eq.q) AS val
  FROM eq JOIN documents d ON d.doc_id = eq.vec_id
), per_lang AS (
  SELECT lang, dim,
         CASE WHEN SUM(val) >= 0
           THEN CAST(SUM(val) // COUNT(*) AS BIGINT)
           ELSE -CAST((-SUM(val)) // COUNT(*) AS BIGINT) END AS c
  FROM dims GROUP BY lang, dim
), global_c AS (
  SELECT dim,
         CASE WHEN SUM(val) >= 0
           THEN CAST(SUM(val) // COUNT(*) AS BIGINT)
           ELSE -CAST((-SUM(val)) // COUNT(*) AS BIGINT) END AS g
  FROM dims GROUP BY dim
), stats AS (
  SELECT p.lang,
         CAST(SUM(p.c * gc.g) AS BIGINT) AS dot,
         CAST(SUM(p.c * p.c) AS BIGINT) AS nl,
         CAST(SUM(gc.g * gc.g) AS BIGINT) AS ng
  FROM per_lang p JOIN global_c gc USING (dim)
  GROUP BY p.lang
), counts AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  GROUP BY d.lang
)
SELECT s.lang, c.n_vecs,
       CASE WHEN s.nl = 0 OR s.ng = 0 THEN NULL ELSE
         CAST(floor(CAST(s.dot AS DOUBLE)
              / (sqrt(CAST(s.nl AS DOUBLE)) * sqrt(CAST(s.ng AS DOUBLE)))
              * 1000000.0) AS BIGINT) END AS cos_corpus_ppm,
       CAST(CASE WHEN COALESCE(CASE WHEN s.nl = 0 OR s.ng = 0 THEN NULL ELSE
              CAST(floor(CAST(s.dot AS DOUBLE)
                   / (sqrt(CAST(s.nl AS DOUBLE)) * sqrt(CAST(s.ng AS DOUBLE)))
                   * 1000000.0) AS BIGINT) END, 0) < {_EMB_DRIFT_PPM}
            THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
FROM stats s JOIN counts c USING (lang)
"""


# ---------------------------------------------------------------------------
# sim_matryoshka_recall — truncated-embedding retrieval evaluation
# ---------------------------------------------------------------------------

_MRL_DIMS = 16  # truncated prefix length (of 64)
_MRL_QUERIES = 5
_MRL_K = 10


def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION EVALUATION — the decision table behind
    shrinking an embedding index 4x: for each probe query, the exact
    cosine top-10 under the FULL 64 dims versus under the first 16
    dims only (the MRL prefix), and the recall@10 of the truncated
    ranking against the full one. This is the measurement that says
    whether the cheap index is good enough BEFORE re-embedding a
    100 TB corpus. Mechanics: both rankings come from one
    5-query x corpus pair table (broadcast query side), two
    row_number windows partitioned per query, and an equi-join
    overlap count — the established fixed-point-cosine determinism
    (identical int trees -> identical doubles -> identical order,
    vec_id ties)."""
    emb = _emb_q(spark, sf_dir)
    tr = emb.select(
        "vec_id",
        "q",
        "nrm",
        F.expr(f"slice(q, 1, {_MRL_DIMS})").alias("qt"),
    ).withColumn(
        "nrmt",
        F.expr(
            "aggregate(zip_with(qt, qt, (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v)"
        ),
    )
    qs = tr.where(F.col("vec_id") < _MRL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("fq"),
        F.col("nrm").alias("fnrm"),
        F.col("qt").alias("tq"),
        F.col("nrmt").alias("tnrm"),
    )
    pairs = tr.join(F.broadcast(qs), F.col("vec_id") != F.col("qid"))
    full_cos = F.expr(_DOT.format(a="q", b="fq")).cast("double") / (
        F.sqrt(F.col("nrm").cast("double"))
        * F.sqrt(F.col("fnrm").cast("double"))
    )
    trunc_cos = F.expr(
        "aggregate(zip_with(qt, tq, (x, y) -> x * y), 0L,"
        " (acc, v) -> acc + v)"
    ).cast("double") / (
        F.sqrt(F.col("nrmt").cast("double"))
        * F.sqrt(F.col("tnrm").cast("double"))
    )
    scored = pairs.select(
        "qid",
        "vec_id",
        full_cos.alias("fc"),
        trunc_cos.alias("tc"),
    )
    wf = W.partitionBy("qid").orderBy(F.desc("fc"), F.asc("vec_id"))
    wt_ = W.partitionBy("qid").orderBy(F.desc("tc"), F.asc("vec_id"))
    ranked = scored.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rt", F.row_number().over(wt_)
    )
    overlap = (
        ranked.where((F.col("rf") <= _MRL_K) & (F.col("rt") <= _MRL_K))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    # the zero-overlap spine: every probe query pairs with the whole
    # corpus (vec_id != qid), so the distinct qids in `ranked` are
    # exactly the rows of the broadcast-small `qs` — deriving the
    # spine from qs avoids re-planning the corpus-sized double-window
    # subtree (the lazy ranked.select("qid").distinct() re-ran the
    # whole pair scoring a second time: 2 extra parquet scans).
    base = qs.select("qid")
    return (
        base.join(overlap, "qid", "left")
        .na.fill({"n_overlap": 0})
        .select(
            "qid",
            F.lit(_MRL_K).cast("long").alias("k"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            F.expr(f"CAST((n_overlap * 1000000) div {_MRL_K} AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


_QUANT_TRUNC_DUCK = (
    "list_transform(embedding[1:"
    + str(_MRL_DIMS)
    + "], x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
)
_DOT_TRUNC_DUCK = (
    "CAST(list_sum(list_transform(range(1, "
    + str(_MRL_DIMS + 1)
    + "), i -> {a}[i] * {b}[i])) AS BIGINT)"
)

_SIM_MATRYOSHKA_SQL = f"""
WITH eq AS (
  SELECT vec_id, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm,
         {_QUANT_TRUNC_DUCK} AS qt,
         {_DOT_TRUNC_DUCK.format(a=_QUANT_TRUNC_DUCK, b=_QUANT_TRUNC_DUCK)}
           AS nrmt
  FROM embeddings
), qs AS (
  SELECT vec_id AS qid, q AS fq, nrm AS fnrm, qt AS tq, nrmt AS tnrm
  FROM eq WHERE vec_id < {_MRL_QUERIES}
), scored AS (
  SELECT qs.qid, eq.vec_id,
         CAST({_DOT_DUCK.format(a="eq.q", b="qs.fq")} AS DOUBLE)
           / (sqrt(CAST(eq.nrm AS DOUBLE)) * sqrt(CAST(qs.fnrm AS DOUBLE)))
           AS fc,
         CAST({_DOT_TRUNC_DUCK.format(a="eq.qt", b="qs.tq")} AS DOUBLE)
           / (sqrt(CAST(eq.nrmt AS DOUBLE)) * sqrt(CAST(qs.tnrm AS DOUBLE)))
           AS tc
  FROM eq CROSS JOIN qs
  WHERE eq.vec_id != qs.qid
), ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY fc DESC, vec_id)
           AS rf,
         row_number() OVER (PARTITION BY qid ORDER BY tc DESC, vec_id)
           AS rt
  FROM scored
), overlap AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM ranked WHERE rf <= {_MRL_K} AND rt <= {_MRL_K}
  GROUP BY qid
)
SELECT b.qid, CAST({_MRL_K} AS BIGINT) AS k,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       CAST((COALESCE(o.n_overlap, 0) * 1000000) // {_MRL_K} AS BIGINT)
         AS recall_ppm
FROM (SELECT DISTINCT qid FROM ranked) b
LEFT JOIN overlap o USING (qid)
"""


QUERIES = {
    "sim_matryoshka_recall": QuerySpec(
        sim_matryoshka_recall,
        _SIM_MATRYOSHKA_SQL,
        ("similarity", "matryoshka", "evaluation"),
    ),
    "profile_embedding_drift": QuerySpec(
        profile_embedding_drift,
        _PROFILE_EMBEDDING_DRIFT_SQL,
        ("profile", "drift", "embeddings"),
    ),
    "sim_cosine_topk": QuerySpec(
        sim_cosine_topk, _SIM_COSINE_TOPK_SQL, ("similarity", "topk")
    ),
    "samp_kcenter_coreset": QuerySpec(
        samp_kcenter_coreset,
        _kcenter_sql(),
        ("sampling", "coreset", "iterative"),
    ),
    "sim_reciprocal_nn": QuerySpec(
        sim_reciprocal_nn,
        _SIM_RECIPROCAL_NN_SQL,
        ("similarity", "knn", "mutual"),
    ),
    "sim_threshold_sweep": QuerySpec(
        sim_threshold_sweep,
        _SIM_THRESHOLD_SWEEP_SQL,
        ("similarity", "dedup", "tuning"),
    ),
    "ml_quantize_int8": QuerySpec(
        ml_quantize_int8,
        _ML_QUANTIZE_INT8_SQL,
        ("ml", "quantization", "embedding"),
    ),
    "ml_kmeans_fixed": QuerySpec(
        ml_kmeans_fixed, _kmeans_sql(), ("ml", "clustering", "iterative")
    ),
    "ml_knn_classify": QuerySpec(
        ml_knn_classify, _ML_KNN_CLASSIFY_SQL, ("ml", "knn", "classify")
    ),
    "ml_eval_confusion": QuerySpec(
        ml_eval_confusion, _ML_EVAL_CONFUSION_SQL, ("ml", "eval")
    ),
    "ml_cluster_medoid": QuerySpec(
        ml_cluster_medoid, _medoid_sql(), ("ml", "dedup", "semantic")
    ),
    "ml_pca_power": QuerySpec(
        ml_pca_power, _pca_sql(), ("ml", "linalg", "iterative")
    ),
    "sim_range_search": QuerySpec(
        sim_range_search, _SIM_RANGE_SEARCH_SQL, ("similarity", "range")
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup_embedding_cosine, _DEDUP_EMBEDDING_COSINE_SQL, ("similarity", "dedup")
    ),
    "dedup_semdedup": QuerySpec(
        dedup_semdedup, _semdedup_sql(), ("similarity", "dedup", "semdedup")
    ),
    "sim_knn_blocked": QuerySpec(
        sim_knn_blocked, _SIM_KNN_BLOCKED_SQL, ("similarity", "knn")
    ),
    "sim_knn_blocked_full": QuerySpec(
        sim_knn_blocked_full, _SIM_KNN_BLOCKED_FULL_SQL, ("similarity", "knn")
    ),
    "sim_ivf_multiprobe": QuerySpec(
        sim_ivf_multiprobe, _SIM_IVF_MULTIPROBE_SQL, ("similarity", "ann")
    ),
    "sim_ann_join": QuerySpec(
        sim_ann_join, _SIM_ANN_JOIN_SQL, ("similarity", "ann", "join")
    ),
    "sim_ann_join_indexed": QuerySpec(
        sim_ann_join_indexed, _SIM_ANN_JOIN_SQL, ("similarity", "ann", "index")
    ),
    "sim_embedding_stats": QuerySpec(
        sim_embedding_stats, _SIM_EMBEDDING_STATS_SQL, ("similarity", "agg")
    ),
    "sim_pq_topk": QuerySpec(
        sim_pq_topk, _SIM_PQ_TOPK_SQL, ("similarity", "pq", "compression")
    ),
    "sim_ann_index_append": QuerySpec(
        sim_ann_index_append,
        _SIM_ANN_INDEX_APPEND_SQL,
        ("similarity", "ann", "incremental"),
    ),
    "rag_retrieve_docs": QuerySpec(
        rag_retrieve_docs, _RAG_RETRIEVE_DOCS_SQL, ("similarity", "rag", "join")
    ),
}
