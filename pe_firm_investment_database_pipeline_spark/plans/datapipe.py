"""Training-data curation operators over the documents table — the
pipeline stages between raw corpus and training shards that the
extension surface (repo:BASELINE.json:6, 100 TB design) calls for
beyond dedup/similarity: deterministic stratified sampling, token-
budget sharding, and benchmark-contamination detection.

All three are pure DataFrame plans with exact DuckDB oracles.

Scale notes:
- samp_stratified_hash: map-side only — the sampling decision is a
  hash of the row key against a per-stratum literal rate, so it
  composes with scan pruning and never shuffles. Unlike rand()-based
  sampleBy it is deterministic and reproducible across engines,
  retries, and re-runs (the property training pipelines need for
  exact resumability).
- shard_by_token_budget: a global running sum is the textbook
  single-partition-window bottleneck, so the cumsum is built the
  distributed way: block-local sums (one narrow agg), a TINY window
  over block totals for offsets (thousands of rows at 100 TB), then
  block-local prefix + offset. Same result as the naive global
  window, parallel everywhere.
- contamination_ngram: benchmark sets are small (thousands of docs),
  so their shingle table is broadcast; the corpus side stays
  shuffle-free — the right shape for "scan 100 TB, flag anything
  overlapping the eval set".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import QuerySpec
from ..sources.tables import load_table
from .textops import (
    _SHINGLED_DUCK,
    _STOP_SQL,
    _TOKENS,
    _TOKENS_DUCK,
    _shingled,
)
from .textops import STOPWORDS as _STOPWORDS

# Deterministic 48-bit md5-prefix hash of the doc key — identical in
# both engines (same trick as the shingle hashes, textops.py).
_KEYHASH = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
)
_KEYHASH_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
)

# Per-stratum keep rates in permille: downsample the over-represented
# majority language, keep the tail whole (the usual rebalancing move).
_RATES = {"en": 400, "de": 1000, "es": 1000, "fr": 1000, "zh": 1000}


def samp_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep a document iff
    hash(doc_id) mod 1000 < rate(lang). Reproducible (no RNG state),
    engine-portable, and stable under re-partitioning — three things
    `df.sampleBy` (seeded per-partition RNG) cannot promise. The rate
    table is a plan literal (a broadcast map at scale)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_KEYHASH) % 1000
    rate = F.when(F.col("lang") == "en", _RATES["en"]).otherwise(1000)
    return (
        d.select(
            "doc_id",
            "lang",
            bucket.cast("long").alias("bucket"),
            rate.cast("long").alias("rate_permille"),
        )
        .where(F.col("bucket") < F.col("rate_permille"))
    )


_SAMP_STRATIFIED_HASH_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         {_KEYHASH_DUCK} % 1000 AS bucket,
         CAST(CASE WHEN lang = 'en' THEN {_RATES['en']} ELSE 1000 END AS BIGINT)
           AS rate_permille
  FROM documents
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket, rate_permille
FROM t WHERE bucket < rate_permille
"""


def samp_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling: each document's keep
    probability is its type-token diversity, expressed in integer
    permille (n_distinct * 1000 div n_tokens) so the threshold
    comparison is pure int64 on both engines — no float weight ever
    crosses an engine boundary. Same hash-vs-threshold decision as
    samp_stratified_hash (reproducible across retries, partitions,
    engines), but the rate is a per-ROW computed weight rather than a
    per-stratum literal — the shape a curation pipeline uses to
    downsample low-quality text smoothly instead of with a hard
    filter. Composing weights (quality x language rate) is a permille
    multiply. Map-side only: the decision composes with scan pruning
    and never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.expr(_TOKENS).alias("toks")).select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )
    weight = F.expr(
        "CASE WHEN n_tokens > 0 THEN n_distinct * 1000 div n_tokens ELSE 0 END"
    )
    bucket = (F.expr(_KEYHASH) % 1000).cast("long")
    return (
        t.select(
            "doc_id",
            "lang",
            weight.alias("weight_permille"),
            bucket.alias("bucket"),
        )
        .where(F.col("bucket") < F.col("weight_permille"))
    )


_SAMP_WEIGHTED_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         {_KEYHASH_DUCK} % 1000 AS bucket
  FROM (SELECT doc_id, lang, {_TOKENS_DUCK} AS toks FROM documents)
)
SELECT doc_id, lang,
       CASE WHEN n_tokens > 0 THEN n_distinct * 1000 // n_tokens ELSE 0 END
         AS weight_permille,
       CAST(bucket AS BIGINT) AS bucket
FROM t
WHERE bucket < CASE WHEN n_tokens > 0 THEN n_distinct * 1000 // n_tokens
                    ELSE 0 END
"""


def samp_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based DOMAIN MIXTURE sampling — the rebalancing
    move multilingual pretraining sets use: per-language keep rates
    are derived FROM THE DATA as count^0.5 temperature weights (the
    alpha<1 exponent flattens the head so low-resource languages keep
    a larger share), scaled to a 40% global token budget. Completes
    the sampling family: literal per-stratum rates
    (samp_stratified_hash) → per-row weights (samp_weighted_quality)
    → data-derived per-stratum rates (this op).

    Engine parity is INTEGER-ONLY end to end: the temperature weight
    is isqrt(n_i) (floor(sqrt()) of an int64-valued double — IEEE
    sqrt is correctly rounded, so both engines floor the same value),
    the share and rate are int64 divisions, and the keep decision is
    the same hash-vs-threshold compare as the rest of the family. No
    cross-engine float sum ever happens (a 5-term double sum would
    already be order-sensitive).

    Scale: the rate table is one tiny aggregate over the corpus
    (#languages rows), broadcast back onto the scan; the keep
    decision is then map-side. The 3-row window over the counts
    frame is tiny BY CONSTRUCTION (one row per language). Integer
    envelope: share_permille·T fits int64 up to T ≈ 9e15 tokens —
    past any corpus; the div-before-multiply ordering keeps it there."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_i"))
    wt = counts.withColumn(
        "w_i", F.expr("CAST(floor(sqrt(CAST(n_i AS DOUBLE))) AS BIGINT)")
    )
    wall = W.partitionBy(F.lit(1))
    rates = (
        wt.withColumn("w_all", F.sum("w_i").over(wall))
        .withColumn("n_tot", F.sum("n_i").over(wall))
        .select(
            "lang",
            "n_i",
            F.expr(
                "LEAST(CAST(1000 AS BIGINT),"
                " ((1000 * w_i div w_all) * ((2 * n_tot) div 5)) div n_i)"
            ).alias("rate_permille"),
        )
    )
    bucket = (F.expr(_KEYHASH) % 1000).cast("long")
    return (
        d.join(F.broadcast(rates), "lang")
        .select("doc_id", "lang", bucket.alias("bucket"), "rate_permille")
        .where(F.col("bucket") < F.col("rate_permille"))
    )


_SAMP_DOMAIN_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_i,
         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_i
  FROM documents GROUP BY lang
), rates AS (
  SELECT lang, n_i,
         CAST(LEAST(CAST(1000 AS BIGINT),
               ((1000 * w_i // SUM(w_i) OVER ())
                * ((2 * SUM(n_i) OVER ()) // 5)) // n_i)
           AS BIGINT) AS rate_permille
  FROM counts
)
SELECT doc_id, d.lang, CAST({_KEYHASH_DUCK} % 1000 AS BIGINT) AS bucket,
       rate_permille
FROM documents d JOIN rates USING (lang)
WHERE {_KEYHASH_DUCK} % 1000 < rate_permille
"""


_TOPK_PER_STRATUM = 20


def samp_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k deterministic sampling: the k documents with the
    smallest key-hash per language — 'give me exactly k docs per
    stratum, reproducibly'. Rate-based sampling (the rest of the
    family) yields a BINOMIAL count per stratum; eval-set and
    human-review pipelines need an exact count, and ordering by a
    uniform hash makes the choice unbiased yet stable across re-runs,
    repartitioning, and engines. One window pass per stratum; at
    100 TB this is a top-k-per-group (partial per partition via the
    rank filter), never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.expr(_KEYHASH).asc(), F.col("doc_id").asc())
    return (
        d.select(
            "doc_id",
            "lang",
            F.expr(_KEYHASH).alias("keyhash"),
        )
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .where(F.col("pick_rank") <= _TOPK_PER_STRATUM)
    )


_SAMP_TOPK_HASH_SQL = f"""
SELECT doc_id, lang, keyhash, pick_rank FROM (
  SELECT doc_id, lang, {_KEYHASH_DUCK} AS keyhash,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY {_KEYHASH_DUCK}, doc_id) AS BIGINT)
           AS pick_rank
  FROM documents)
WHERE pick_rank <= {_TOPK_PER_STRATUM}
"""


# ---------------------------------------------------------------------------
# txt_boilerplate_chunks — cross-document repeated-chunk detection
# ---------------------------------------------------------------------------

_BOILER_MIN_DOCS = 2
_BOILER_TOP = 20


def txt_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at CHUNK granularity — the Gopher-style
    curation signal document-level dedup can't see: a sentence chunk
    whose md5 fingerprint recurs across >= 2 distinct documents is a
    header / license / template fragment, and training pipelines
    strip or downweight it even when the surrounding documents are
    unique. Composes chunk_recursive_split (zero-shuffle chunker)
    with ONE fingerprint aggregate — the shuffle carries (fp, partial
    doc-sets bounded by the aggregate's partial distinct), and the
    report is top-20 by reach, a TakeOrderedAndProject."""
    ch = chunk_recursive_split(spark, sf_dir)
    rep = (
        ch.groupBy("chunk_fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("n_chars").alias("chunk_chars"),
        )
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
    )
    return rep.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("chunk_fp")
    ).limit(_BOILER_TOP)


def _txt_boilerplate_chunks_sql() -> str:
    # deferred: _CHUNK_RECURSIVE_SPLIT_SQL is defined later in this
    # module (the chunker section); QUERIES builds after both exist
    return f"""
WITH chunks AS ({_CHUNK_RECURSIVE_SPLIT_SQL})
SELECT chunk_fp,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(n_chars) AS BIGINT) AS chunk_chars
FROM chunks GROUP BY chunk_fp
HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, chunk_fp
LIMIT {_BOILER_TOP}
"""


def txt_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate STRIP — the transformation step downstream of
    `txt_boilerplate_chunks`' detection: rewrite every document with
    its cross-doc-repeated chunks removed and report the per-doc
    retention ledger (kept/removed chunk and char counts plus a
    position-weighted fingerprint checksum of the SURVIVING chunk
    sequence, so the oracle pins content AND order of what remains —
    exactly what a curation pipeline audits before dropping bytes).
    Scale shape: the repeated-fingerprint set is the output of one
    grouped aggregate and is SMALL by construction (bounded by corpus
    boilerplate, not corpus size), so it broadcasts; the flagging
    join is map-side and the per-doc ledger is one partial-aggregable
    shuffle on doc_id. The checksum term (chunk_idx+1)*chunk_fp is
    < 2^63 (48-bit fp x small index) and is reduced mod 1e9+7 per
    chunk BEFORE summing, so the aggregate stays in int64 in both
    engines."""
    ch = chunk_recursive_split(spark, sf_dir)
    boiler = (
        ch.groupBy("chunk_fp")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select("chunk_fp", F.lit(1).alias("is_boiler"))
    )
    flagged = ch.join(F.broadcast(boiler), "chunk_fp", "left").select(
        "doc_id",
        "chunk_idx",
        "n_chars",
        "chunk_fp",
        F.coalesce(F.col("is_boiler"), F.lit(0)).alias("is_boiler"),
    )
    kept = F.col("is_boiler") == 0
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(kept.cast("long")).alias("kept_chunks"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
        F.sum(F.when(~kept, F.col("n_chars")).otherwise(0)).alias(
            "removed_chars"
        ),
        F.expr(
            "pmod(COALESCE(SUM(CASE WHEN is_boiler = 0 THEN"
            " ((chunk_idx + 1) * chunk_fp) % 1000000007 END), 0),"
            " 1000000007)"
        ).alias("kept_checksum"),
    )


def _txt_boilerplate_strip_sql() -> str:
    return f"""
WITH chunks AS MATERIALIZED ({_CHUNK_RECURSIVE_SPLIT_SQL}),
boiler AS (
  SELECT chunk_fp FROM chunks
  GROUP BY chunk_fp HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
), flagged AS (
  SELECT c.doc_id, c.chunk_idx, c.n_chars, c.chunk_fp,
         CASE WHEN b.chunk_fp IS NULL THEN 0 ELSE 1 END AS is_boiler
  FROM chunks c LEFT JOIN boiler b ON c.chunk_fp = b.chunk_fp
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN is_boiler = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_chunks,
       CAST(SUM(CASE WHEN is_boiler = 0 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(SUM(CASE WHEN is_boiler = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS removed_chars,
       CAST(COALESCE(SUM(CASE WHEN is_boiler = 0 THEN
              ((chunk_idx + 1) * chunk_fp) % 1000000007 END), 0)
            % 1000000007 AS BIGINT) AS kept_checksum
FROM flagged GROUP BY doc_id
"""


_NEYMAN_BUDGET = 100  # total sample rows allocated across strata


def samp_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN ALLOCATION — split a fixed sampling budget across
    strata proportionally to N_h * S_h (stratum size x std of the
    target variable): the survey-sampling optimum that a naive
    proportional split ignores, and the first table any stratified
    data-collection plan computes. One partial-aggregable pass
    collects per-stratum sufficient statistics (count / sum / sum of
    squares in DECIMAL(38,0)-HUGEINT, the agg_corr_stats
    discipline); the std enters as an INTEGER milli-unit
    (floor(sqrt(n*sxx - sx^2)*1000/n) — sqrt is IEEE
    correctly-rounded, so identical integers give identical doubles
    and an identical floor), which keeps the cross-stratum weight
    total an exact integer sum — never a cross-row double sum, whose
    order the engines would not agree on. Seats are dealt by
    largest-remainder (floor division + ranked remainders, ties to
    the smaller stratum name), so allocations always sum exactly to
    the budget. The global window runs over the ~|strata| aggregate
    rows, never the corpus (the partitionBy()-less pattern)."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").alias("y")
    )
    g = (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias(
                "sxx"
            ),
        )
        .withColumn(
            "s_milli",
            F.expr(
                "CAST(floor(sqrt(CAST(CAST(n_rows AS DECIMAL(38,0)) * sxx"
                " - sx * sx AS DOUBLE)) * 1000.0 / CAST(n_rows AS DOUBLE))"
                " AS BIGINT)"
            ),
        )
        .withColumn("weight", F.expr("n_rows * s_milli"))
    )
    wtot = W.partitionBy()
    g = g.select(
        "lang",
        "n_rows",
        "s_milli",
        "weight",
        F.sum("weight").over(wtot).alias("tot_w"),
    ).select(
        "lang",
        "n_rows",
        "s_milli",
        "weight",
        F.expr(f"({_NEYMAN_BUDGET} * weight) div tot_w").alias("base"),
        F.expr(f"({_NEYMAN_BUDGET} * weight) % tot_w").alias("rem"),
    )
    ranked = g.select(
        "lang",
        "n_rows",
        "s_milli",
        "weight",
        "base",
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("rem"), F.asc("lang")))
        .alias("rn"),
        (F.lit(_NEYMAN_BUDGET) - F.sum("base").over(wtot)).alias("leftover"),
    )
    return ranked.select(
        "lang",
        "n_rows",
        "s_milli",
        "weight",
        (
            F.col("base")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc"),
    )


_SAMP_NEYMAN_ALLOC_SQL = f"""
WITH g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
         SUM(CAST(n_chars AS HUGEINT)) AS sx,
         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
  FROM documents GROUP BY lang
), s AS (
  SELECT lang, n_rows,
         CAST(floor(sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)) * 1000.0
              / CAST(n_rows AS DOUBLE)) AS BIGINT) AS s_milli
  FROM g
), w AS (
  SELECT lang, n_rows, s_milli,
         CAST(n_rows * s_milli AS BIGINT) AS weight,
         CAST(SUM(n_rows * s_milli) OVER () AS BIGINT) AS tot_w
  FROM s
), b AS (
  SELECT lang, n_rows, s_milli, weight,
         CAST(({_NEYMAN_BUDGET} * weight) // tot_w AS BIGINT) AS base,
         CAST(({_NEYMAN_BUDGET} * weight) % tot_w AS BIGINT) AS rem
  FROM w
), r AS (
  SELECT lang, n_rows, s_milli, weight, base,
         CAST(row_number() OVER (ORDER BY rem DESC, lang) AS BIGINT) AS rn,
         CAST({_NEYMAN_BUDGET} - SUM(base) OVER () AS BIGINT) AS leftover
  FROM b
)
SELECT lang, n_rows, s_milli, weight,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM r
"""


# ---------------------------------------------------------------------------
# samp_class_balance — downsample every class to the minority count
# ---------------------------------------------------------------------------

def samp_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling of the event log — the classifier-
    training prep that caps every class at the MINORITY class's
    count: the per-type cap is a 1-row broadcast MIN over the type
    counts (derived in-plan, not a config), membership is the
    deterministic smallest-md5-hash rank per type (unbiased, stable
    across engines and re-runs — the samp_topk_hash discipline), and
    the output pins WHICH rows were kept via an associative modular
    checksum of the kept event_ids, not just how many. One window
    pass per type + one tiny aggregate; never a global sort."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    cap = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").alias("cap")
    )
    keyhash = (
        "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 12),"
        " 16, 10) AS BIGINT)"
    )
    w = W.partitionBy("event_type").orderBy(
        F.expr(keyhash).asc(), F.col("event_id").asc()
    )
    kept = (
        e.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(cap))
        .where(F.col("rn") <= F.col("cap"))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "CAST(SUM((event_id * 2654435761) % 1000000007) AS BIGINT)"
        ).alias("id_checksum"),
    )


_SAMP_CLASS_BALANCE_SQL = """
WITH cap AS (
  SELECT MIN(n) AS cap
  FROM (SELECT COUNT(*) AS n FROM events GROUP BY event_type)
), ranked AS (
  SELECT event_id, event_type,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                         1, 12)) AS BIGINT), event_id)
           AS rn
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM((event_id * 2654435761) % 1000000007) AS BIGINT)
         AS id_checksum
FROM ranked, cap
WHERE rn <= cap
GROUP BY event_type
"""


_BUDGET = 20_000  # tokens per training shard

# Cumsum block width, derived IN-PLAN from COUNT(*) and MAX(doc_id):
# the id RANGE is cut into ~ceil(sqrt(N)) equal spans, so the
# block-totals table (the only sequentially windowed thing) holds at
# most ~sqrt(N) rows — ~30k at a billion documents, never O(N)
# through one partition — even when doc_ids are SPARSE (a width
# derived from COUNT(*) alone would yield max_id/sqrt(N) blocks
# through the offsets window when max_id >> N). For dense ids the
# two derivations coincide (~sqrt(N) ids per block). A fixed width
# was the round-2 defect: 100 -> 10M single-partition rows at 1e9
# docs. GREATEST/COALESCE guard the empty corpus; the result is
# width-independent (the oracle is a plain sequential cumsum).
_SHARD_BLOCK_WIDTH = (
    "GREATEST(1, CAST(ceil((CAST(COALESCE(mx, 0) AS DOUBLE) + 1.0) / "
    "GREATEST(ceil(sqrt(CAST(n AS DOUBLE))), 1.0)) AS BIGINT))"
)


def shard_by_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into training shards of
    ~_BUDGET tokens: shard = running_token_sum_before_doc div
    _BUDGET. The running sum is computed DISTRIBUTED: per-block token
    totals (block = doc_id div width, the id range cut into ~sqrt(N)
    spans — sparse-id-safe, see _SHARD_BLOCK_WIDTH),
    one window over the ~sqrt(N)-row block-totals table for block
    offsets, then a block-local window adds the offset — the only
    sequential step touches sqrt(N) rows, not N. Integer division
    end-to-end (token totals at corpus scale exceed double
    precision). A shard can overshoot the budget by at most one
    document (the standard streaming-packing relaxation; exact bin
    packing is sequential by nature)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.expr(_TOKENS)).cast("long").alias("n_tokens"),
    )
    return _pack_shards(toks)


def _pack_shards(toks: DataFrame) -> DataFrame:
    """The distributed cumsum + budget packing over a (doc_id,
    n_tokens) frame — shared by the standalone shard entry and the
    composed curation pipeline (any extra columns on `toks` ride
    along).

    `toks` is consumed by the width probe AND the blocked frame
    (which is itself read twice: block totals + the final join), so
    the lazy form re-planned the upstream scan/pipeline four times
    per call. The frame is doc-count sized and narrow — one upstream
    pass materializes it for all consumers."""
    toks = toks.localCheckpoint(eager=True)
    params = (
        toks.select("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx"))
        .select(F.expr(_SHARD_BLOCK_WIDTH).alias("block_width"))
    )
    blocked = (
        toks.crossJoin(F.broadcast(params))
        .withColumn("block", F.expr("doc_id div block_width"))
    )
    block_totals = blocked.groupBy("block").agg(F.sum("n_tokens").alias("block_sum"))
    w_blocks = W.orderBy("block").rowsBetween(W.unboundedPreceding, -1)
    offsets = block_totals.select(
        "block",
        F.coalesce(F.sum("block_sum").over(w_blocks), F.lit(0)).alias("offset"),
    )
    w_in_block = (
        W.partitionBy("block").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        blocked.join(F.broadcast(offsets), "block")
        .withColumn(
            "tokens_before",
            F.col("offset")
            + F.coalesce(F.sum("n_tokens").over(w_in_block), F.lit(0)),
        )
        .withColumn("shard", F.expr(f"tokens_before div {_BUDGET}"))
        .drop("block", "block_width", "offset")
    )


_SHARD_BY_TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM t
)
SELECT doc_id, n_tokens, tokens_before,
       tokens_before // {_BUDGET} AS shard
FROM c
"""


# Window width is deliberately SMALL relative to the fixture's ~100-token
# documents so the multi-chunk explode path is actually exercised by the
# correctness gate (512 would leave every doc single-chunk and the
# operator vacuously green).
_CHUNK = 32  # tokens per training context window


def chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into <= _CHUNK-token context windows: one output
    row per (doc, chunk) with its token range. Empty documents keep a
    single empty chunk (training pipelines drop them downstream, but
    silently losing rows here would hide corpus bugs).

    Scale shape: a pure NARROW transformation — per-row token count,
    in-row sequence, explode. No shuffle, no window, no aggregate
    anywhere; at 100 TB this runs at scan speed and composes with
    partition pruning. Integer arithmetic end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.expr(_TOKENS)).cast("long").alias("n_tokens"),
    )
    return (
        toks.withColumn(
            "n_chunks",
            F.expr(f"GREATEST(CAST(1 AS BIGINT), (n_tokens + {_CHUNK - 1}) div {_CHUNK})"),
        )
        # n_chunks >= 1, so sequence() never sees a negative span
        .select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.expr("sequence(CAST(0 AS BIGINT), n_chunks - 1)")
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "chunk_id",
            (F.col("chunk_id") * _CHUNK).alias("tok_start"),
            F.least(
                F.lit(_CHUNK).cast("long"),
                F.col("n_tokens") - F.col("chunk_id") * _CHUNK,
            ).alias("chunk_tokens"),
        )
    )


_CHUNK_TOKEN_WINDOWS_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         GREATEST(CAST(1 AS BIGINT), (n_tokens + {_CHUNK - 1}) // {_CHUNK})
           AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, n_tokens,
         CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id
  FROM c
)
SELECT doc_id, n_tokens, chunk_id,
       chunk_id * {_CHUNK} AS tok_start,
       LEAST(CAST({_CHUNK} AS BIGINT), n_tokens - chunk_id * {_CHUNK})
         AS chunk_tokens
FROM e
"""


# ---------------------------------------------------------------------------
# chunk_recursive_split — delimiter-hierarchy chunker
# ---------------------------------------------------------------------------

_SPLIT_MAX = 120  # max chunk characters
_SENT_MARK = "\x01"  # post-replace sentence delimiter


def chunk_recursive_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive delimiter-hierarchy chunking — the RAG-ingest
    splitter (LangChain's RecursiveCharacterTextSplitter shape):
    split on sentence boundaries first ('. ', preserved via a
    replace-then-split two-step because RE2 — the DuckDB twin's
    engine — has no lookbehind), and only pieces still longer than
    _SPLIT_MAX characters fall through to hard character windows.
    Sentence-sized chunks keep semantic boundaries; the fallback
    bounds the worst case.

    Scale shape: like chunk_token_windows this is a pure NARROW
    per-row transformation — nested array transforms + flatten +
    posexplode, ZERO shuffles, runs at scan speed at any corpus size.
    Output carries (chunk_idx, n_chars, 48-bit md5 fingerprint)
    instead of the chunk text, so the result stays narrow and the
    fingerprint gives the oracle byte-level coverage of every chunk's
    CONTENT, not just its size."""
    d = load_table(spark, sf_dir, "documents")
    sents = (
        f"split(replace(text, '. ', concat('.', '{_SENT_MARK}')), "
        f"'{_SENT_MARK}')"
    )
    chunks = (
        f"flatten(transform({sents}, s -> CASE "
        f"WHEN length(s) <= {_SPLIT_MAX} THEN array(s) "
        f"ELSE transform(sequence(0, CAST(ceil(length(s) / {_SPLIT_MAX}.0)"
        f" AS INT) - 1), i -> substring(s, i * {_SPLIT_MAX} + 1,"
        f" {_SPLIT_MAX})) END))"
    )
    return (
        d.select("doc_id", F.posexplode(F.expr(chunks)).alias("chunk_idx", "c"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.length("c").cast("long").alias("n_chars"),
            F.expr(
                "CAST(conv(substring(md5(c), 1, 12), 16, 10) AS BIGINT)"
            ).alias("chunk_fp"),
        )
    )


_CHUNK_RECURSIVE_SPLIT_SQL = f"""
WITH sents AS (
  SELECT doc_id,
         string_split(replace(text, '. ', '.' || chr(1)), chr(1)) AS ss
  FROM documents
), chunked AS (
  SELECT doc_id,
         flatten(list_transform(ss, s -> CASE
           WHEN length(s) <= {_SPLIT_MAX} THEN [s]
           ELSE list_transform(
                  range(0, CAST(ceil(length(s) / {_SPLIT_MAX}.0) AS INT)),
                  i -> substring(s, i * {_SPLIT_MAX} + 1, {_SPLIT_MAX}))
           END)) AS cs
  FROM sents
)
SELECT doc_id,
       CAST(unnest(range(0, len(cs))) AS BIGINT) AS chunk_idx,
       CAST(length(unnest(cs)) AS BIGINT) AS n_chars,
       CAST(('0x' || substr(md5(unnest(cs)), 1, 12)) AS BIGINT) AS chunk_fp
FROM chunked
"""


_CONTAM_MIN_SHARED = 3  # shared 3-gram shingles to flag


def contamination_check(
    train_shingles: DataFrame, bench_shingles: DataFrame
) -> DataFrame:
    """Core contamination join: flag training documents sharing >=
    _CONTAM_MIN_SHARED shingles with any benchmark document. The
    benchmark shingle table is BROADCAST — eval sets are tiny next to
    a 100 TB corpus — so the corpus side is a single shuffle-free
    scan + broadcast hash join, then one aggregation on the (train,
    bench) pairs actually sharing shingles. In production the bench
    side is its own small table; the registry entry below derives a
    stand-in from the corpus because the fixture ships no separate
    benchmark set (that derivation scans the corpus once more, a cost
    the real separate-table layout does not pay)."""
    return (
        train_shingles.join(F.broadcast(bench_shingles), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .where(F.col("n_shared_shingles") >= _CONTAM_MIN_SHARED)
    )


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check over the documents table, with
    doc_id % 97 == 0 as the benchmark stand-in (excluded from the
    training side). See `contamination_check` for the scale shape."""
    sh = _shingled(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
    bench = sh.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    train = sh.where(F.col("doc_id") % 97 != 0)
    return contamination_check(train, bench)


_CONTAMINATION_NGRAM_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), sh AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
)
SELECT t.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared_shingles
FROM sh t JOIN sh b ON t.s = b.s
WHERE b.doc_id % 97 = 0 AND t.doc_id % 97 != 0
GROUP BY 1, 2
HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# samp_train_split — leakage-safe deterministic train/val/test split
# ---------------------------------------------------------------------------

def samp_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment keyed on the
    CONTENT digest, not the doc id: exact duplicates hash to the same
    split by construction, so a train copy of a test document — the
    classic eval-leakage bug of id-keyed splits — cannot exist.
    Assignment is a pure map-side projection (hash -> bucket ->
    label); the output is the per-(lang, split) manifest a training
    run consumes. At 100 TB the same projection tags every row at
    scan speed and the manifest is one tiny aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('split:', md5(text))), 1, 12),"
        " 16, 10) AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    tagged = d.select(
        "lang",
        split.alias("split"),
        F.size(F.expr(_TOKENS)).cast("long").alias(
            "n_tokens"
        ),
    )
    return tagged.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


_SAMP_TRAIN_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT lang,
         CASE
           WHEN CAST(('0x' || substr(md5('split:' || md5(text)), 1, 12)) AS BIGINT)
                % 100 < 90 THEN 'train'
           WHEN CAST(('0x' || substr(md5('split:' || md5(text)), 1, 12)) AS BIGINT)
                % 100 < 95 THEN 'val'
           ELSE 'test'
         END AS split,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM tagged GROUP BY lang, split
"""


# ---------------------------------------------------------------------------
# contamination_bloom — Bloom-prefiltered contamination join
# ---------------------------------------------------------------------------
#
# The 1e9-shingle benchmark case: when the bench shingle set is too
# big to broadcast as a HASH TABLE, its Bloom BITSET still fits
# (m bits vs ~32 bytes/entry — a 64x reduction), so the corpus side
# is pruned to probable-hits BEFORE the shuffle join and the exchange
# carries ~FP-rate of the corpus instead of all of it. The filter is
# built from relational primitives only: k=2 probe positions per
# shingle, bit_or-aggregated int64 words, broadcast back as a
# <=m/64-row table. False positives die in the exact join, so the
# RESULT is exactly the containment join's — the oracle stays exact.
# m is fixed 2^16 here (bench stand-in is tiny); at scale derive m
# from the bench count in-plan exactly like the LSH nbits.

_BLOOM_BITS = 1 << 16


def _bloom_survivors(train: DataFrame, bench: DataFrame) -> DataFrame:
    """Prune ``train`` (doc_id, s) to the rows whose shingle passes
    the Bloom bitset built from ``bench``'s shingles — a superset of
    the true matches. k=2 probes: the low 16 bits and next 16 bits of
    the 48-bit md5-derived shingle hash (independent by
    construction)."""
    m = _BLOOM_BITS
    probe1, probe2 = f"s % {m}", f"(s div {m}) % {m}"
    bloom = (
        bench.select(
            F.explode(F.array(F.expr(probe1), F.expr(probe2))).alias("h")
        )
        .groupBy(F.expr("h div 64").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT)))"
            ).alias("bits")
        )
    )
    survivors = train
    for i, probe in enumerate((probe1, probe2), start=1):
        b = bloom.select(
            F.col("word").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        survivors = (
            survivors.withColumn(f"h{i}", F.expr(probe))
            .join(F.broadcast(b), F.expr(f"h{i} div 64 = w{i}"))
            .where(
                F.expr(
                    f"(bits{i} & shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(h{i} % 64 AS INT))) != 0"
                )
            )
            .drop(f"w{i}", f"bits{i}", f"h{i}")
        )
    return survivors


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark-contamination check: same output
    as `contamination_ngram` (the exact join removes Bloom false
    positives), but the corpus side is pruned by a broadcast bitset
    before any join — the shape that survives a benchmark set too
    large to broadcast-hash-join. Reduction is pinned by
    tests/test_scale_blocking.py::test_bloom_prefilter_prunes."""
    sh = _shingled(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
    bench = sh.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    train = sh.where(F.col("doc_id") % 97 != 0)
    # exact join over the pruned side — deliberately NOT broadcast-
    # hinted: this entry demonstrates the non-broadcastable-bench
    # shape (AQE may still pick broadcast at test scale; at volume
    # both sides shuffle on s, with only bloom survivors moving)
    return (
        _bloom_survivors(train, bench)
        .join(bench, "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        .where(F.col("n_shared_shingles") >= _CONTAM_MIN_SHARED)
    )


# identical output to the exact containment join by construction —
# the oracle is the same SQL as contamination_ngram's
_CONTAMINATION_BLOOM_SQL = _CONTAMINATION_NGRAM_SQL


# ---------------------------------------------------------------------------
# curation_pipeline_e2e — the composed training-data pipeline
# ---------------------------------------------------------------------------

def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED, raw corpus -> training shards in
    one plan: quality gate (token count + type-token diversity, the
    txt_quality_score 'keep' rule) -> exact dedup (min doc_id per
    content digest) -> stratified downsampling (deterministic hash vs
    per-language rate) -> token-budget shard packing over the
    survivors. Every stage is the same declarative shape as its
    standalone entry, so Catalyst fuses the gate + digest + sample
    into the scan projection and the only shuffles are the dedup
    groupBy and the shard cumsum's two tiny window exchanges — the
    whole pipeline is 3 shuffles end-to-end at any scale."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.md5("text").alias("h"), F.expr(_TOKENS).alias("toks")
    ).select(
        "doc_id",
        "lang",
        "h",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.size(F.filter("toks", lambda x: x.isin(*_STOPWORDS))).cast("long").alias(
            "n_stop"
        ),
    )
    kept = t.where(
        (F.col("n_tokens") >= 20)
        & (F.col("n_stop") * 10 <= F.col("n_tokens") * 4)
        & (F.col("n_distinct") * 10 >= F.col("n_tokens"))
    )
    w_dup = W.partitionBy("h").orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w_dup))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    rate = F.when(F.col("lang") == "en", _RATES["en"]).otherwise(1000)
    sampled = deduped.where(F.expr(_KEYHASH) % 1000 < rate)
    return _pack_shards(sampled.select("doc_id", "lang", "n_tokens")).select(
        "doc_id", "lang", "n_tokens", "tokens_before", "shard"
    )


_CURATION_PIPELINE_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, md5(text) AS h,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS BIGINT) AS n_stop
  FROM (SELECT doc_id, lang, text, {_TOKENS_DUCK} AS toks FROM documents)
), kept AS (
  SELECT * FROM t
  WHERE n_tokens >= 20 AND n_stop * 10 <= n_tokens * 4
    AND n_distinct * 10 >= n_tokens
), deduped AS (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1
), sampled AS (
  SELECT doc_id, lang, n_tokens FROM deduped
  WHERE {_KEYHASH_DUCK} % 1000
        < CASE WHEN lang = 'en' THEN {_RATES['en']} ELSE 1000 END
), c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM sampled
)
SELECT doc_id, lang, n_tokens, tokens_before,
       tokens_before // {_BUDGET} AS shard
FROM c
"""


def samp_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep — the step between retrieval
    and training a retriever/embedder: per query vector, POSITIVES
    are its top-2 ANN neighbors, HARD negatives are ANN ranks 4-5
    (close enough to be informative, not nearest), and RANDOM
    negatives are two deterministic hash-picked corpus vectors with
    accidental hits removed by an anti-join against the candidate
    set. All three classes reuse `sim_ann_join`'s staged IVF index;
    the random picks are pure arithmetic on (query_id, draw index)
    mod corpus size — reproducible across engines, retries, and
    re-runs, the property a training pipeline needs for exact
    resumability (same discipline as samp_stratified_hash)."""
    from .similarity import sim_ann_join

    emb = load_table(spark, sf_dir, "embeddings")
    n_vec = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    # The ANN result is referenced FIVE times below (pos, hard, the
    # draws distinct, and both arms of the anti-join union); before
    # the result front landed, the lazy composition re-planned the
    # probe join per reference (38 parquet-scan nodes, 30 exchanges —
    # the rag_query_expansion double-execution class). sim_ann_join
    # now returns the memoized eager checkpoint (the "ann_result"
    # front), so all five references scan one
    # materialized Q x k frame.
    ann = sim_ann_join(spark, sf_dir).select("query_id", "nbr_id", "nn_rank")
    pos = ann.where(F.col("nn_rank") <= 2).select(
        "query_id",
        F.col("nbr_id").alias("doc_id"),
        F.lit("positive").alias("kind"),
        F.lit(1).cast("long").alias("label"),
    )
    hard = ann.where(F.col("nn_rank") >= 4).select(
        "query_id",
        F.col("nbr_id").alias("doc_id"),
        F.lit("hard_negative").alias("kind"),
        F.lit(0).cast("long").alias("label"),
    )
    draws = ann.select("query_id").distinct().crossJoin(
        F.broadcast(n_vec)
    ).select(
        "query_id",
        F.explode(
            F.expr(
                "transform(sequence(1, 2), "
                "j -> (query_id * 7919 + j * 104729) % n_vec)"
            )
        ).alias("doc_id"),
    )
    rand = (
        draws.join(
            ann.select(
                "query_id", F.col("nbr_id").alias("doc_id")
            ).union(
                ann.select("query_id", F.col("query_id").alias("doc_id"))
            ),
            ["query_id", "doc_id"],
            "left_anti",
        )
        .distinct()
        .select(
            "query_id",
            "doc_id",
            F.lit("random_negative").alias("kind"),
            F.lit(0).cast("long").alias("label"),
        )
    )
    return pos.unionByName(hard).unionByName(rand)


def _samp_hard_negatives_sql() -> str:
    from .similarity import _SIM_ANN_JOIN_SQL

    return f"""
WITH ann AS MATERIALIZED (
{_SIM_ANN_JOIN_SQL}
), nv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM embeddings
), pos AS (
  SELECT query_id, nbr_id AS doc_id, 'positive' AS kind,
         CAST(1 AS BIGINT) AS label
  FROM ann WHERE nn_rank <= 2
), hard AS (
  SELECT query_id, nbr_id AS doc_id, 'hard_negative' AS kind,
         CAST(0 AS BIGINT) AS label
  FROM ann WHERE nn_rank >= 4
), draws AS (
  SELECT DISTINCT query_id,
         (query_id * 7919 + j * 104729) % n_vec AS doc_id
  FROM (SELECT DISTINCT query_id FROM ann), nv,
       (SELECT unnest(range(1, 3)) AS j)
), rand AS (
  SELECT d.query_id, d.doc_id, 'random_negative' AS kind,
         CAST(0 AS BIGINT) AS label
  FROM draws d
  WHERE NOT EXISTS (
    SELECT 1 FROM ann a
    WHERE a.query_id = d.query_id
      AND (a.nbr_id = d.doc_id OR a.query_id = d.doc_id))
)
SELECT * FROM pos UNION ALL SELECT * FROM hard UNION ALL SELECT * FROM rand
"""


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-shard MANIFEST — the file a data loader actually
    opens before touching any shard: per shard, document count, total
    tokens, the doc_id span, and an order-insensitive content
    checksum (sum of md5-prefix ints mod 1e9+7 — associative, so
    map-side combinable, and any row lost or duplicated between the
    packer and the loader changes it). Composes shard_by_token_budget
    with the documents fingerprints; one aggregate over the packed
    corpus."""
    sh = shard_by_token_budget(spark, sf_dir).select("doc_id", "n_tokens", "shard")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)"
            " % 1000000007"
        ).alias("fp"),
    )
    return (
        sh.join(d, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("fp").alias("content_checksum"),
        )
    )


_SHARD_MANIFEST_SQL = f"""
WITH sh AS MATERIALIZED (
{_SHARD_BY_TOKEN_BUDGET_SQL}
), fp AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT) % 1000000007
           AS fp
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(sh.doc_id) AS first_doc, MAX(sh.doc_id) AS last_doc,
       CAST(SUM(fp.fp) AS BIGINT) AS content_checksum
FROM sh JOIN fp ON sh.doc_id = fp.doc_id
GROUP BY shard
"""


_CV_K = 5


def ml_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED K-FOLD ASSIGNMENT — deterministic 5-fold
    cross-validation folds balanced WITHIN each language stratum:
    fold = (rank of the doc's content-order hash within its stratum)
    mod k, so every (lang, fold) cell holds ⌊n/k⌋ or ⌈n/k⌉ docs by
    construction — the property plain hash-mod-k only has in
    expectation and id-keyed splits violate under skew. The hash
    (md5 of doc_id, doc_id tiebreak) makes assignment reproducible
    across runs and engines; the ranking window partitions by
    stratum (never global). Output is the per-(lang, fold) manifest
    plus the exact-balance flag a training harness asserts before
    burning GPU hours. Sibling of `samp_train_split` (content-keyed
    90/5/5) — folds need the rank, not the bucket, hence the window."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr("md5(CAST(doc_id AS STRING))").alias("h")
    )
    w = W.partitionBy("lang").orderBy("h", "doc_id")
    folds = d.withColumn(
        "fold", ((F.row_number().over(w) - 1) % _CV_K).cast("long")
    )
    per_cell = folds.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    per_lang = folds.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    return per_cell.join(F.broadcast(per_lang), "lang").select(
        "lang",
        "fold",
        "n_docs",
        "n_lang",
        F.expr(
            f"CAST(CASE WHEN n_docs = n_lang div {_CV_K}"
            f" OR n_docs = (n_lang + {_CV_K} - 1) div {_CV_K}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("balanced_ok"),
    )


_ML_CV_FOLDS_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
), folds AS (
  SELECT lang,
         CAST((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
               - 1) % {_CV_K} AS BIGINT) AS fold
  FROM d
), per_cell AS (
  SELECT lang, fold, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM folds GROUP BY 1, 2
), per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM folds GROUP BY lang
)
SELECT c.lang, c.fold, c.n_docs, l.n_lang,
       CAST(CASE WHEN c.n_docs = l.n_lang // {_CV_K}
                 OR c.n_docs = (l.n_lang + {_CV_K} - 1) // {_CV_K}
            THEN 1 ELSE 0 END AS BIGINT) AS balanced_ok
FROM per_cell c JOIN per_lang l USING (lang)
"""


# ---------------------------------------------------------------------------
# samp_pps_systematic — probability-proportional-to-size sampling
# ---------------------------------------------------------------------------

_PPS_K = 50  # target sample size
_PPS_BLOCK = 100  # doc_id block width for the two-level prefix sum


def samp_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS SYSTEMATIC SAMPLING — probability proportional to size,
    the survey-sampling classic a data pipeline uses to draw an
    inspection sample where BIG documents (by chars) are
    proportionally more likely: walk the cumulative-weight axis with
    a fixed step (total/k) and keep every row whose weight interval
    crosses a step boundary. THE SCALE POINT is the prefix sum: a
    naive SUM() OVER (ORDER BY doc_id) serializes the corpus through
    one partition, so the cumulative weight decomposes TWO-LEVEL —
    within-block ordered windows (block = doc_id div 100, perfectly
    parallel) plus a tiny block-offset table joined broadcast — the
    `evt_cusum_changepoint` block identity on the id axis. Selection
    ((cum div step) > ((cum - w) div step)) is pure integer; the
    draw is deterministic, reproducible, and oracle-checkable."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("n_chars").cast("long").alias("w"))
        # 2-int narrow doc frame read by the within-block window, the
        # block totals AND (via btot) the grand total — the lazy form
        # scanned documents three times. One pass; the grand total
        # now derives from the block totals.
        .localCheckpoint(eager=True)
    )
    blocked = d.withColumn("blk", F.expr(f"doc_id div {_PPS_BLOCK}"))
    wb = W.partitionBy("blk").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    within = blocked.withColumn("cw", F.sum("w").over(wb))
    btot = blocked.groupBy("blk").agg(F.sum("w").alias("bw"))
    woff = W.orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
    offsets = btot.withColumn(
        "off", F.coalesce(F.sum("bw").over(woff), F.lit(0))
    ).select("blk", "off")
    tot = btot.agg(F.sum("bw").alias("tw"))
    cum = (
        within.join(F.broadcast(offsets), "blk")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "w",
            (F.col("cw") + F.col("off")).alias("cum"),
            F.expr(f"tw div {_PPS_K}").alias("step"),
        )
    )
    return cum.where(
        F.expr("(cum div step) > ((cum - w) div step)")
    ).select(
        "doc_id",
        "w",
        "cum",
        F.expr("cum div step").alias("slot"),
    )


_SAMP_PPS_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
), cum AS (
  SELECT doc_id, w,
         CAST(SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum,
         CAST((SELECT SUM(w) FROM d) // {_PPS_K} AS BIGINT) AS step
  FROM d
)
SELECT doc_id, w, cum, CAST(cum // step AS BIGINT) AS slot
FROM cum
WHERE (cum // step) > ((cum - w) // step)
"""


# ---------------------------------------------------------------------------
# samp_reservoir_weighted — mergeable weighted priority sampling
# ---------------------------------------------------------------------------

_RES_K = 10


def samp_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED RESERVOIR (priority) SAMPLING — the Efraimidis-
    Spirakis shape with a deterministic rational surrogate: each doc
    draws a 48-bit md5 uniform u and competes on priority
    (u * 1000) div weight (weight = n_chars), and the k=10 SMALLEST
    priorities per language win — heavier docs get proportionally
    smaller priorities, so inclusion probability grows with weight
    (the true E-S exponent u^(1/w) needs libm logs, which are not
    correctly-rounded and never enter hash-compared queries — the
    repo-wide rule). The operational property that makes this the
    STREAMING/distributed sampler: top-k-by-priority is
    associative, so every partition keeps its own k and merging
    reservoirs is a k-way min-merge — exactly what the per-group
    rank window compiles to (partial TopK per partition, then
    merge), with no global sort and no second scan."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("w"),
        F.expr(_KEYHASH).alias("u"),
    )
    pri = d.withColumn("priority", F.expr("(u * 1000) div w"))
    w_rk = W.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .where(F.col("rk") <= _RES_K)
        .select("lang", "doc_id", "w", "priority", "rk")
    )


_SAMP_RESERVOIR_SQL = f"""
WITH d AS (
  SELECT lang, doc_id,
         GREATEST(n_chars, 1) AS w,
         {_KEYHASH_DUCK} AS u
  FROM documents
), pri AS (
  SELECT lang, doc_id, CAST(w AS BIGINT) AS w,
         CAST((u * 1000) // w AS BIGINT) AS priority
  FROM d
)
SELECT lang, doc_id, w, priority,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY priority, doc_id) AS rk
  FROM pri
)
WHERE rk <= {_RES_K}
"""


# ---------------------------------------------------------------------------
# pack_sequences_nfd — context-window sequence packing (next-fit decreasing)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per packed training sequence


def pack_sequences_nfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING — the LLM-training preprocessing step that
    `shard_by_token_budget` deliberately relaxes: a packed training
    sequence has a HARD context-length budget (256 tokens here), so
    a bin may never overshoot — next-fit-decreasing packs each
    language's docs sorted by token count DESC, closing the bin
    whenever the next doc would overflow. NFD is genuinely
    sequential (each decision depends on the running fill), so it
    runs as an `aggregate()` fold against a RECURSIVE-CTE oracle
    (the `ts_holt_linear` discipline); the fold builds the per-bin
    summaries directly (array_append on close), never a per-doc
    assignment list. Packing is SHARDED — the fold runs per
    (lang, doc_id div 1024), NOT per language: production packing
    is always shard-local (a global NFD would serialize the corpus),
    and the shard cut bounds BOTH the Spark fold length and the
    oracle's recursion depth at any scale factor (the per-language
    form ran the DuckDB recursion 12k levels deep at sf1.0 —
    measured, rejected). Output: every (lang, shard) bin with its
    doc count, token sum, and fill ppm — the padding-waste report
    that decides whether packing is worth it."""
    toks = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.expr("doc_id div 1024").alias("shard"),
        "doc_id",
        F.size(F.expr(_TOKENS)).cast("long").alias("tok"),
    )
    ser = toks.groupBy("lang", "shard").agg(
        F.expr(
            "array_sort(collect_list(struct(-tok AS nt, doc_id, tok)))"
        ).alias("s")
    )
    fold = (
        "aggregate("
        " slice(s, 2, greatest(size(s) - 1, 0)),"
        " named_struct("
        "   'bins', CAST(array() AS ARRAY<STRUCT<n: BIGINT, t: BIGINT>>),"
        "   'n', CAST(1 AS BIGINT), 'f', element_at(s, 1).tok),"
        f" (acc, x) -> CASE WHEN acc.f + x.tok <= {_PACK_BUDGET}"
        "   THEN named_struct('bins', acc.bins,"
        "                     'n', acc.n + 1, 'f', acc.f + x.tok)"
        "   ELSE named_struct("
        "     'bins', array_append(acc.bins,"
        "             named_struct('n', acc.n, 't', acc.f)),"
        "     'n', CAST(1 AS BIGINT), 'f', x.tok) END)"
    )
    # fold ONCE into a struct, then close the open bin: the three
    # interpolated copies of the aggregate() all survived in the
    # optimized plan (HOFs are CodegenFallback — no CSE)
    bins = ser.select(
        "lang",
        "shard",
        F.expr(fold).alias("acc"),
    ).select(
        "lang",
        "shard",
        F.expr(
            "array_append(acc.bins, named_struct('n', acc.n, 't', acc.f))"
        ).alias("bins"),
    )
    return bins.select(
        "lang", "shard", F.posexplode("bins").alias("p", "b")
    ).select(
        "lang",
        "shard",
        (F.col("p") + 1).cast("long").alias("bin_id"),
        F.col("b.n").alias("n_docs"),
        F.col("b.t").alias("tok_sum"),
        F.expr(f"(b.t * 1000000) div {_PACK_BUDGET}").alias("fill_ppm"),
    )


_PACK_NFD_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT lang, doc_id // 1024 AS shard, doc_id,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS tok
  FROM documents
), ser AS (
  SELECT lang, shard,
         list_sort(list(struct_pack(nt := -tok, doc_id := doc_id,
                                    tok := tok))) AS s
  FROM toks GROUP BY lang, shard
), n AS (
  SELECT lang, shard, CAST(len(s) AS BIGINT) AS n_docs, s FROM ser
), rec(lang, shard, i, bin, fill) AS (
  SELECT lang, shard, CAST(1 AS BIGINT), CAST(1 AS BIGINT), s[1].tok
  FROM n
  UNION ALL
  SELECT r.lang, r.shard, r.i + 1,
         CASE WHEN r.fill + n.s[CAST(r.i + 1 AS INT)].tok
                   <= {_PACK_BUDGET}
              THEN r.bin ELSE r.bin + 1 END,
         CASE WHEN r.fill + n.s[CAST(r.i + 1 AS INT)].tok
                   <= {_PACK_BUDGET}
              THEN r.fill + n.s[CAST(r.i + 1 AS INT)].tok
              ELSE n.s[CAST(r.i + 1 AS INT)].tok END
  FROM rec r JOIN n ON n.lang = r.lang AND n.shard = r.shard
  WHERE r.i < n.n_docs
)
SELECT lang, CAST(shard AS BIGINT) AS shard,
       CAST(bin AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(fill) AS BIGINT) AS tok_sum,
       CAST((MAX(fill) * 1000000) // {_PACK_BUDGET} AS BIGINT)
         AS fill_ppm
FROM rec GROUP BY lang, shard, bin
"""


# ---------------------------------------------------------------------------
# samp_interleave_wfq — weighted-fair-queueing mixture interleave
# ---------------------------------------------------------------------------

_WFQ_HEAD = 100


def samp_interleave_wfq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-ORDER MATERIALIZATION: the first 100 positions of a
    deterministic domain-mixture interleave — the dataloader step
    after `samp_domain_mixture` decides WEIGHTS: something must turn
    per-domain streams + weights into ONE consumption order, and the
    classic answer is weighted fair queueing — the k-th doc of
    domain d is consumed at virtual finish time k / w_d, so heavier
    domains appear proportionally more often and the prefix of the
    order realizes the mixture at every cut (no epoch-sized batches
    of one domain). Integer-exact: w_d = the domain's char-mass share
    in ppm; vft = k * 1e9 div share_ppm (cleared to int64); in-domain
    order k is the md5(doc_id) hash order (deterministic shuffle
    within domain). Scale shape: one groupBy for shares (broadcast
    back), one per-domain window for k (partitioned by source), then
    the head is orderBy(vft).limit(100) — a distributed top-K, never
    a global sort; the final position stamp is a row_number over the
    100 survivors only (limit-bounded, the audit-exempt shape)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("nc")
        )
        # narrow doc frame read by the share rollup AND the ranked
        # join — one documents pass instead of two.
        .localCheckpoint(eager=True)
    )
    shares = d.groupBy("source").agg(F.sum("nc").alias("mass"))
    tot = shares.agg(F.sum("mass").alias("tot"))
    sh = shares.crossJoin(F.broadcast(tot)).select(
        "source", F.expr("(mass * 1000000) div tot").alias("share_ppm")
    )
    wk = W.partitionBy("source").orderBy(
        F.expr("md5(CAST(doc_id AS STRING))"), "doc_id"
    )
    ranked = d.join(F.broadcast(sh), "source").select(
        "doc_id",
        "source",
        "share_ppm",
        F.row_number().over(wk).cast("long").alias("k"),
    )
    head = ranked.withColumn(
        "vft", F.expr("(k * 1000000000) div share_ppm")
    ).orderBy("vft", "doc_id").limit(_WFQ_HEAD)
    w_pos = W.orderBy("vft", "doc_id")
    return head.select(
        F.row_number().over(w_pos).cast("long").alias("pos"),
        "doc_id",
        "source",
        "k",
        "vft",
    )


_SAMP_WFQ_SQL = f"""
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS nc FROM documents
), shares AS (
  SELECT source, CAST(SUM(nc) AS BIGINT) AS mass FROM d GROUP BY source
), tot AS (
  SELECT CAST(SUM(mass) AS BIGINT) AS tot FROM shares
), sh AS (
  SELECT source, (mass * 1000000) // tot AS share_ppm
  FROM shares CROSS JOIN tot
), ranked AS (
  SELECT d.doc_id, d.source, sh.share_ppm,
         CAST(row_number() OVER (PARTITION BY d.source
              ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS BIGINT) AS k
  FROM d JOIN sh USING (source)
), head AS (
  SELECT doc_id, source, k,
         CAST((k * 1000000000) // share_ppm AS BIGINT) AS vft
  FROM ranked
  ORDER BY vft, doc_id LIMIT {_WFQ_HEAD}
)
SELECT CAST(row_number() OVER (ORDER BY vft, doc_id) AS BIGINT) AS pos,
       doc_id, source, k, vft
FROM head
"""


QUERIES = {
    "samp_interleave_wfq": QuerySpec(
        samp_interleave_wfq,
        _SAMP_WFQ_SQL,
        ("sampling", "mixture", "dataloader"),
    ),
    "pack_sequences_nfd": QuerySpec(
        pack_sequences_nfd,
        _PACK_NFD_SQL,
        ("packing", "llm", "sequence"),
    ),
    "samp_reservoir_weighted": QuerySpec(
        samp_reservoir_weighted,
        _SAMP_RESERVOIR_SQL,
        ("sampling", "reservoir", "weighted"),
    ),
    "samp_pps_systematic": QuerySpec(
        samp_pps_systematic,
        _SAMP_PPS_SQL,
        ("sampling", "pps", "systematic"),
    ),
    "ml_cv_folds": QuerySpec(
        ml_cv_folds, _ML_CV_FOLDS_SQL, ("ml", "sampling", "cv")
    ),
    "samp_hard_negatives": QuerySpec(
        samp_hard_negatives,
        _samp_hard_negatives_sql(),
        ("sampling", "training", "retrieval"),
    ),
    "samp_stratified_hash": QuerySpec(
        samp_stratified_hash, _SAMP_STRATIFIED_HASH_SQL, ("sampling",)
    ),
    "samp_weighted_quality": QuerySpec(
        samp_weighted_quality, _SAMP_WEIGHTED_QUALITY_SQL, ("sampling", "weighted")
    ),
    "samp_domain_mixture": QuerySpec(
        samp_domain_mixture, _SAMP_DOMAIN_MIXTURE_SQL, ("sampling", "mixture")
    ),
    "samp_topk_hash": QuerySpec(
        samp_topk_hash, _SAMP_TOPK_HASH_SQL, ("sampling", "exact_k")
    ),
    "shard_by_token_budget": QuerySpec(
        shard_by_token_budget, _SHARD_BY_TOKEN_BUDGET_SQL, ("sharding",)
    ),
    "shard_manifest": QuerySpec(
        shard_manifest, _SHARD_MANIFEST_SQL, ("sharding", "manifest")
    ),
    "chunk_token_windows": QuerySpec(
        chunk_token_windows, _CHUNK_TOKEN_WINDOWS_SQL, ("sharding", "chunking")
    ),
    "chunk_recursive_split": QuerySpec(
        chunk_recursive_split,
        _CHUNK_RECURSIVE_SPLIT_SQL,
        ("sharding", "chunking", "rag"),
    ),
    "samp_class_balance": QuerySpec(
        samp_class_balance,
        _SAMP_CLASS_BALANCE_SQL,
        ("sampling", "balance"),
    ),
    "txt_boilerplate_chunks": QuerySpec(
        txt_boilerplate_chunks,
        _txt_boilerplate_chunks_sql(),
        ("text", "dedup", "boilerplate"),
    ),
    "txt_boilerplate_strip": QuerySpec(
        txt_boilerplate_strip,
        _txt_boilerplate_strip_sql(),
        ("text", "curation", "boilerplate"),
    ),
    "samp_neyman_alloc": QuerySpec(
        samp_neyman_alloc,
        _SAMP_NEYMAN_ALLOC_SQL,
        ("sampling", "stratified", "design"),
    ),
    "contamination_ngram": QuerySpec(
        contamination_ngram, _CONTAMINATION_NGRAM_SQL, ("dedup", "contamination")
    ),
    "contamination_bloom": QuerySpec(
        contamination_bloom,
        _CONTAMINATION_BLOOM_SQL,
        ("dedup", "contamination", "bloom"),
    ),
    "samp_train_split": QuerySpec(
        samp_train_split, _SAMP_TRAIN_SPLIT_SQL, ("sampling", "split")
    ),
    "curation_pipeline_e2e": QuerySpec(
        curation_pipeline_e2e, _CURATION_PIPELINE_SQL, ("pipeline", "curation")
    ),
}
