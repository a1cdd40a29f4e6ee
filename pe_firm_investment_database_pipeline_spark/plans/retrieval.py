"""Keyword retrieval over the documents table — the lexical half of
the RAG stack next to the embedding half (plans/similarity.py
``rag_retrieve_docs``): an inverted-index build, a BM25 top-k
ranking, and the hybrid reciprocal-rank fusion of the lexical and
vector lists, all pure DataFrame plans with exact DuckDB oracles.

The reference pipeline retrieves evidence rows by fuzzy NAME matching
(reference: utils/search_utils.py score loops); at corpus scale the
same need — "find the documents that mention these terms, best
first" — is BM25 over an inverted index. Both plans here are
shuffle-minimal:

- idx_inverted: one explode + one hash-aggregate on the term; the
  shuffle carries (term, partial df/cf) thanks to map-side combine,
  and the postings array is explicitly CAPPED (``slice`` after
  ``collect_set``) so a stop-word-grade hot term cannot blow up a
  single reducer's output row — the classic inverted-index skew
  guard. At 100 TB postings would be bucketed by term and spilled
  per-segment; the cap models the per-segment page.
- rag_bm25_topk: corpus statistics (N docs, total token count) are a
  1-row broadcast; document frequencies for the QUERY terms only
  (a handful of rows) are computed once and broadcast back onto the
  per-document term frequencies, so the big side is touched by
  exactly one explode + one groupBy(doc_id, term) — and that work
  lives in the staged forward-index front (``_tf_front``), built
  once per (application, dataset) and shared by every BM25-shaped
  consumer in the module. Final top-k is a TakeOrderedAndProject,
  not a global sort.

Cross-engine exactness: BM25 is usually computed in floating point
(ln-based IDF), which would make the last-ulp of two engines'
scores — and therefore the top-k cut — nondeterministic. Scores here
are exact int64 rationals instead: the Robertson IDF's ln is replaced
by its scaled rational argument idf_q = ((2*(N-df)+1)*10000) div
(2*df+1) (monotone in the true IDF, which is what ranking needs),
and the k1=1.2 / b=0.75 saturation term is cleared of denominators by
multiplying through by 10*S (S = total corpus tokens):

    tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)
  = 22*tf*S / (10*tf*S + 3*S + 9*dl*N)        with avgdl = S/N

so each term's contribution is one int64 integer division —
associative, order-insensitive, bit-identical in any engine. At test
scale the intermediate product idf_q*22*tf*S stays far below 2^63;
at 100 TB the same plan would lift the product to DECIMAL(38,0) (or
accept double scores, since a 1-ulp tie at that scale moves nothing
the user can see).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.session_cache import front
from ..registry import QuerySpec
from ..sources.tables import load_table
from .textops import _TOKENS, _TOKENS_DUCK

# Query terms for the benched/oracled BM25 entry. Plan literals — at
# serving time these arrive as a parameter; in the registry they are
# pinned so the oracle is the same query.
BM25_QUERY = ("spark", "window", "merge")
_QUERY_SQL = "('" + "','".join(BM25_QUERY) + "')"

# Postings-page cap for the inverted index (see module docstring).
POSTINGS_CAP = 20


_IDX_BUCKETS = 32


# The forward-index front (doc_id, dl, term, tf) and the 1-row corpus
# stats (n_docs, s_tokens), each staged per (application, dataset):
# every BM25-shaped consumer in this module (rag_bm25_topk, both
# passes of rag_query_expansion plus its feedback mining, and through
# them rag_context_packing / rag_hybrid_rrf) needs the same per-(doc,
# term) frequencies — unstaged, each consumer re-ran the corpus
# explode + groupBy (rag_query_expansion alone evaluated it four
# times). tf-compression keeps the front small (vocab-bounded rows
# per doc, far below the raw token stream); production retrieval
# serves exactly this persisted forward/inverted index. n_docs MUST
# come from the raw corpus, never the front — zero-token documents
# have no term rows but still count toward n_docs and avgdl.
def _tf_front_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus explode + one (doc, term) partial-agg shuffle —
    the only corpus-sized work in the module once staged."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    dl = toks.select(
        "doc_id", F.size("toks").cast("long").alias("dl"), "toks"
    )
    return (
        dl.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _tf_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "tf_front",
        lambda: _tf_front_build(spark, sf_dir).localCheckpoint(eager=True),
    )


def _corpus_stats_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("dl")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("s_tokens"),
    )


def _corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "corpus_stats",
        lambda: _corpus_stats_build(spark, sf_dir).localCheckpoint(eager=True),
    )


def idx_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term -> document frequency (df), corpus
    frequency (cf), and the first POSTINGS_CAP doc_ids ascending
    (pipe-joined for the cross-engine compare).

    Built segment-wise, the way a distributed indexer actually does
    it: postings are first aggregated per (term, hash-bucket of
    doc_id) — so no single reducer ever materializes a hot term's
    full posting set — each bucket emits an already-capped sorted
    page, and the term-level merge then combines at most
    _IDX_BUCKETS tiny pages. df stays exact because the buckets
    partition the doc-id space (per-bucket distinct counts sum);
    the global smallest-POSTINGS_CAP ids are a subset of the union
    of per-bucket smallest-POSTINGS_CAP pages. Both shuffles carry
    partial aggregates (map-side combine)."""
    d = load_table(spark, sf_dir, "documents")
    posting = d.select(
        "doc_id",
        F.explode(F.expr(_TOKENS)).alias("term"),
    ).withColumn("bucket", F.pmod(F.hash("doc_id"), F.lit(_IDX_BUCKETS)))
    # df_part = size of the bucket's distinct set (NOT countDistinct,
    # whose planner rewrite would add a third shuffle on
    # (term, bucket, doc_id)); the set is bounded by the bucketing.
    pages = (
        posting.groupBy("term", "bucket")
        .agg(
            F.array_sort(F.collect_set("doc_id")).alias("docset"),
            F.count(F.lit(1)).alias("cf_part"),
        )
        .select(
            "term",
            F.size("docset").cast("long").alias("df_part"),
            "cf_part",
            F.slice("docset", 1, POSTINGS_CAP).alias("page"),
        )
    )
    return pages.groupBy("term").agg(
        F.sum("df_part").alias("df"),
        F.sum("cf_part").alias("cf"),
        F.array_join(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("page"))),
                1,
                POSTINGS_CAP,
            ),
            "|",
        ).alias("postings"),
    )


_IDX_INVERTED_SQL = f"""
WITH posting AS (
  SELECT doc_id, hash(doc_id) AS bucket, unnest({_TOKENS_DUCK}) AS term
  FROM documents
), pages AS (
  SELECT term,
         CAST(len(list_sort(list(DISTINCT doc_id))) AS BIGINT) AS df_part,
         CAST(count(*) AS BIGINT) AS cf_part,
         list_slice(list_sort(list(DISTINCT doc_id)), 1, {POSTINGS_CAP})
           AS page
  FROM posting GROUP BY term, bucket
)
SELECT term,
       CAST(sum(df_part) AS BIGINT) AS df,
       CAST(sum(cf_part) AS BIGINT) AS cf,
       array_to_string(
         list_slice(list_sort(flatten(list(page))), 1, {POSTINGS_CAP}), '|')
         AS postings
FROM pages GROUP BY term
"""


def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the pinned query, exact-int64 scored
    (module docstring). The corpus-sized work (one explode + one
    (doc_id, term) groupBy) lives in the staged forward-index front
    (``_tf_front``); this entry filters it to the query terms, so
    stats and per-term df are broadcast 1-row / Q-row sides and
    top-k is TakeOrderedAndProject."""
    stats = _corpus_stats(spark, sf_dir)
    tf = _tf_front(spark, sf_dir).where(F.col("term").isin(*BM25_QUERY))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_q",
            F.expr("((2 * (n_docs - df) + 1) * 10000) div (2 * df + 1)"),
        )
        .withColumn(
            "contrib",
            F.expr(
                "(idf_q * 22 * tf * s_tokens) div "
                "(10 * tf * s_tokens + 3 * s_tokens + 9 * dl * n_docs)"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("bm25_scaled"))
    )
    # TakeOrderedAndProject FIRST (per-partition top-10 + merge on the
    # driver — no global sort, no single-partition window over the
    # corpus), THEN a row_number over the 10 survivors only.
    top = scored.orderBy(F.desc("bm25_scaled"), F.asc("doc_id")).limit(10)
    w = W.orderBy(F.desc("bm25_scaled"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "bm25_scaled",
    )


# Late-interaction (ColBERT-style MaxSim) parameters: embedding
# dimensionality and the integer value range of each coordinate.
# Token embeddings are DERIVED, not learned: coordinate d of term t is
# the 48-bit md5 prefix of "t:d" reduced mod 13 into [-6, 6] — the
# deterministic stand-in for a token-embedding table lookup (the real
# table is a model artifact this container doesn't ship; the
# SPARK-SIDE SHAPE — vocab-level dot table, per-(doc, query-term) max,
# per-doc sum, TakeOrderedAndProject — is exactly the production
# MaxSim plan and is what this entry pins).
_LI_DIMS = 16


def _li_emb(col: str) -> str:
    """Integer token embedding of `col` as an array<long> expression
    (identical 48-bit-md5 derivation in the DuckDB oracle)."""
    return (
        f"transform(sequence(0, {_LI_DIMS - 1}), d -> "
        f"CAST(conv(substring(md5(concat({col}, ':', CAST(d AS STRING))),"
        f" 1, 12), 16, 10) AS BIGINT) % 13 - 6)"
    )


def rag_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION RERANKING (ColBERT MaxSim, Khattab & Zaharia
    2020) — the third retrieval scorer next to lexical BM25
    (`rag_bm25_topk`) and doc-level dense retrieval
    (`rag_retrieve_docs`): score(doc) = sum over QUERY tokens of the
    MAX dot product against the doc's token embeddings, which
    rewards documents that cover every query facet instead of
    matching one facet strongly. Exact integer end to end (derived
    int embeddings, int dots), so both engines rank identically.

    Scale shape — the part that matters at 100 TB: MaxSim over
    identical tokens is tf-invariant, so the doc side collapses to
    the DISTINCT (doc, term) pairs already materialized in the
    staged forward-index front (`_tf_front`); the dot table is
    computed once per VOCAB term x |Q| (vocab-sized, never
    corpus-sized) and joined back on the term key; per-(doc, qterm)
    max and per-doc sum are ordinary partial aggregates; the final
    cut is TakeOrderedAndProject. No token-level corpus re-scan, no
    embedding matrix shuffle."""
    tf = _tf_front(spark, sf_dir)
    pairs = tf.select("doc_id", "term")  # distinct by construction
    vocab = tf.select("term").distinct()
    qterms = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in BM25_QUERY])).alias("qterm")
    )
    dots = (
        vocab.crossJoin(F.broadcast(qterms))
        .withColumn("et", F.expr(_li_emb("term")))
        .withColumn("eq", F.expr(_li_emb("qterm")))
        .select(
            "term",
            "qterm",
            F.expr(
                "aggregate(zip_with(eq, et, (x, y) -> x * y),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("dot"),
        )
    )
    scored = (
        pairs.join(dots, "term")
        .groupBy("doc_id", "qterm")
        .agg(F.max("dot").alias("maxsim"))
        .groupBy("doc_id")
        .agg(F.sum("maxsim").cast("long").alias("maxsim_total"))
    )
    top = scored.orderBy(F.desc("maxsim_total"), F.asc("doc_id")).limit(10)
    w = W.orderBy(F.desc("maxsim_total"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "maxsim_total",
    )


_RAG_LATE_INTERACTION_SQL = f"""
WITH tf AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents)
), vocab AS (
  SELECT DISTINCT term FROM tf
), q AS (
  SELECT unnest({_QUERY_SQL.replace("(", "[").replace(")", "]")}) AS qterm
), dots AS (
  SELECT v.term, q.qterm,
         CAST(SUM(
           (CAST(('0x' || substr(md5(q.qterm || ':' ||
                CAST(r.d AS VARCHAR)), 1, 12)) AS BIGINT) % 13 - 6)
           * (CAST(('0x' || substr(md5(v.term || ':' ||
                CAST(r.d AS VARCHAR)), 1, 12)) AS BIGINT) % 13 - 6)
         ) AS BIGINT) AS dot
  FROM vocab v
  CROSS JOIN q
  CROSS JOIN (SELECT range AS d FROM range(0, {_LI_DIMS})) r
  GROUP BY v.term, q.qterm
), scored AS (
  SELECT doc_id, CAST(SUM(maxsim) AS BIGINT) AS maxsim_total FROM (
    SELECT t.doc_id, d.qterm, MAX(d.dot) AS maxsim
    FROM tf t JOIN dots d ON d.term = t.term
    GROUP BY t.doc_id, d.qterm)
  GROUP BY doc_id
)
SELECT CAST(row_number() OVER
         (ORDER BY maxsim_total DESC, doc_id) AS BIGINT) AS rank,
       doc_id, maxsim_total
FROM scored
ORDER BY maxsim_total DESC, doc_id
LIMIT 10
"""


# Rocchio pseudo-relevance-feedback parameters: top-3 feedback docs,
# top-2 expansion terms, expansion contributions at half weight
# (beta = 1/2 — implemented as (contrib * w) div 2 with w in {2, 1},
# one truncating division, identical in both engines).
_PRF_FB_DOCS = 3
_PRF_EXP_TERMS = 2


def rag_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio) — the
    classic two-pass retrieval upgrade: run BM25 for the pinned
    query, assume the top-3 hits are relevant, mine their strongest
    non-query terms, and re-run BM25 with the expanded term set
    (expansion terms at half weight). Recall rises for vocabulary-
    mismatch queries with zero model dependencies — exactly the
    first retrieval-quality lever a RAG stack pulls after plain
    BM25 (`rag_bm25_topk`). All arithmetic stays in the module's
    exact-int64 BM25 algebra; expansion terms are picked by
    fb_tf * scaled-idf with (score DESC, term ASC) determinism, and
    stopwords plus original query terms are excluded. Scale shape:
    the feedback mining touches only the 3 feedback docs; both
    retrieval passes and the feedback mining run over the STAGED
    forward-index front (``_tf_front`` — one corpus explode total,
    not four), with the term sets broadcast — second pass df comes
    from one front-side distinct count filtered to the candidate
    set."""
    from .textops import STOPWORDS

    stats = _corpus_stats(spark, sf_dir)
    front = _tf_front(spark, sf_dir)

    def bm25(term_weights: DataFrame) -> DataFrame:
        # term_weights: (term, w) — w = 2 for original terms, 1 for
        # expansion; plain BM25 contribution halves via div 2 below.
        # the front is already (doc, term)-aggregated, so the join
        # only attaches w — no corpus groupBy remains in a pass
        tf = front.join(F.broadcast(term_weights), "term")
        dfreq = tf.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df")
        )
        return (
            tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "idf_q",
                F.expr(
                    "((2 * (n_docs - df) + 1) * 10000) div (2 * df + 1)"
                ),
            )
            .withColumn(
                "contrib",
                F.expr(
                    "((idf_q * 22 * tf * s_tokens) div "
                    "(10 * tf * s_tokens + 3 * s_tokens + 9 * dl * n_docs)"
                    " * w) div 2"
                ),
            )
            .groupBy("doc_id")
            .agg(F.sum("contrib").alias("score"))
        )

    q1 = spark.createDataFrame(
        [(t, 2) for t in BM25_QUERY], "term string, w long"
    )
    # Eager small-slate checkpoints (the ml_bradley_terry grid rule,
    # and the r12 fix for a 2.5 -> 3.6 s three-round creep): fb_tf is
    # consumed TWICE below (cand_df's term filter and the rocchio
    # join), so without materialization the whole pass-1 BM25 subtree
    # under it executes at least twice per call. Both slates are
    # query-bounded (3 doc ids / feedback-vocab rows), so this is a
    # per-call materialization of tiny frames, not a corpus rebuild
    # (the sketch_kmv anti-pattern).
    fb = (
        bm25(q1)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_PRF_FB_DOCS)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    skip = tuple(BM25_QUERY) + tuple(STOPWORDS)
    # occurrence counts in the feedback docs = sum of the front's
    # per-(doc, term) tf over the 3 fb docs — identical to counting
    # the raw token stream
    fb_tf = (
        front.join(F.broadcast(fb), "doc_id")
        .where(~F.col("term").isin(*skip))
        .groupBy("term")
        .agg(F.sum("tf").alias("fb_tf"))
        .localCheckpoint(eager=True)
    )
    cand_df = (
        front.join(F.broadcast(fb_tf.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    exp = (
        fb_tf.join(cand_df, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.expr(
                "fb_tf * (((2 * (n_docs - df) + 1) * 10000)"
                " div (2 * df + 1))"
            ).alias("rocchio"),
        )
        .orderBy(F.desc("rocchio"), F.asc("term"))
        .limit(_PRF_EXP_TERMS)
        .select("term", F.lit(1).cast("long").alias("w"))
    )
    q2 = q1.unionByName(exp)
    top = (
        bm25(q2)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )
    w = W.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.col("score").alias("bm25e_scaled"),
    )


def _rag_query_expansion_sql() -> str:
    from .textops import STOPWORDS

    skip = "('" + "','".join(tuple(BM25_QUERY) + tuple(STOPWORDS)) + "')"
    contrib = (
        "(((((2 * (s.n_docs - df.df) + 1) * 10000) // (2 * df.df + 1))"
        " * 22 * tf.tf * s.s_tokens) // "
        "(10 * tf.tf * s.s_tokens + 3 * s.s_tokens"
        " + 9 * tf.dl * s.n_docs) * tf.w) // 2"
    )
    return f"""
WITH dl AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS dl,
         {_TOKENS_DUCK} AS toks
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS s_tokens FROM dl
), ex AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM dl
), q1 AS (
  SELECT unnest({_QUERY_SQL.replace("(", "[").replace(")", "]")}) AS term,
         CAST(2 AS BIGINT) AS w
), tf1 AS (
  SELECT ex.doc_id, ex.dl, ex.term, q1.w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex JOIN q1 ON ex.term = q1.term
  GROUP BY ex.doc_id, ex.dl, ex.term, q1.w
), df1 AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf1 GROUP BY term
), s1 AS (
  SELECT tf.doc_id, CAST(SUM({contrib}) AS BIGINT) AS score
  FROM tf1 tf JOIN df1 df ON tf.term = df.term CROSS JOIN stats s
  GROUP BY tf.doc_id
), fb AS (
  SELECT doc_id FROM s1 ORDER BY score DESC, doc_id LIMIT {_PRF_FB_DOCS}
), fb_tf AS (
  SELECT ex.term, CAST(COUNT(*) AS BIGINT) AS fb_tf
  FROM ex JOIN fb ON ex.doc_id = fb.doc_id
  WHERE ex.term NOT IN {skip}
  GROUP BY ex.term
), cand_df AS (
  SELECT ex.term, CAST(COUNT(DISTINCT ex.doc_id) AS BIGINT) AS df
  FROM ex JOIN fb_tf ON ex.term = fb_tf.term
  GROUP BY ex.term
), exp AS (
  SELECT f.term, CAST(1 AS BIGINT) AS w
  FROM fb_tf f JOIN cand_df c ON f.term = c.term CROSS JOIN stats s
  ORDER BY f.fb_tf * (((2 * (s.n_docs - c.df) + 1) * 10000)
                      // (2 * c.df + 1)) DESC, f.term
  LIMIT {_PRF_EXP_TERMS}
), q2 AS (
  SELECT term, w FROM q1 UNION ALL SELECT term, w FROM exp
), tf2 AS (
  SELECT ex.doc_id, ex.dl, ex.term, q2.w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex JOIN q2 ON ex.term = q2.term
  GROUP BY ex.doc_id, ex.dl, ex.term, q2.w
), df2 AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf2 GROUP BY term
), s2 AS (
  SELECT tf.doc_id, CAST(SUM({contrib}) AS BIGINT) AS score
  FROM tf2 tf JOIN df2 df ON tf.term = df.term CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id, score AS bm25e_scaled
FROM (SELECT * FROM s2 ORDER BY score DESC, doc_id LIMIT 10)
"""


_PACK_BUDGET_TOKENS = 1000  # context-window token budget for packing


def rag_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-WINDOW PACKING — fill a fixed token budget with the
    BM25 ranking's prefix: documents enter in relevance order and
    packing STOPS at the first one that would overflow the budget
    (prefix semantics — deterministic, and what an inference server
    actually sends; greedy skip-and-continue would reorder context
    against relevance). Composes the exact-int64 BM25 top-10 with
    per-doc token counts: the 10-row slate BROADCASTS onto the
    corpus scan for its lengths, and the running total is a window
    over those 10 rows — the corpus is scanned once, never sorted.
    Emits rank, token count, and the running total so the consumer
    can audit the cut."""
    top = rag_bm25_topk(spark, sf_dir)
    dl = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("dl")
    )
    j = dl.join(F.broadcast(top), "doc_id")
    w = W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
    packed = j.select(
        "rank",
        "doc_id",
        "dl",
        F.sum("dl").over(w).alias("cum_tokens"),
    )
    return packed.where(F.col("cum_tokens") <= _PACK_BUDGET_TOKENS)


# defined after _RAG_BM25_TOPK_SQL below (f-string needs it); see
# module tail for the assembled oracle
_RAG_BM25_TOPK_SQL = f"""
WITH dl AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS dl
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS s_tokens
  FROM dl
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
  WHERE term IN {_QUERY_SQL}
  GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term
), scored AS (
  SELECT doc_id,
         CAST(sum(
           ((2 * (n_docs - df) + 1) * 10000) // (2 * df + 1)
           * 22 * tf * s_tokens
           // (10 * tf * s_tokens + 3 * s_tokens + 9 * dl * n_docs)
         ) AS BIGINT) AS bm25_scaled
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY doc_id
)
SELECT * FROM (
  SELECT CAST(row_number() OVER
           (ORDER BY bm25_scaled DESC, doc_id) AS BIGINT) AS rank,
         doc_id, bm25_scaled
  FROM scored
) WHERE rank <= 10
"""


_RAG_CONTEXT_PACKING_SQL = f"""
WITH top AS ({_RAG_BM25_TOPK_SQL}),
dl AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS dl FROM documents
), packed AS (
  SELECT t.rank, t.doc_id, d.dl,
         CAST(SUM(d.dl) OVER (ORDER BY t.rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM top t JOIN dl d USING (doc_id)
)
SELECT rank, doc_id, dl, cum_tokens
FROM packed WHERE cum_tokens <= {_PACK_BUDGET_TOKENS}
"""


# lcm(61..70): every RRF denominator (60 + rank, rank <= 10) divides
# it, so LCM div (60 + rank) is an EXACT rational contribution and the
# fused score is an associative int64 sum — no float RRF, no cross-
# engine last-ulp risk. Max sum ~ 20 * LCM/61 ~ 4.7e13, far inside
# int64.
_RRF_LCM = 142_813_628_717_760
_RRF_K0 = 60


def rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — reciprocal-rank fusion of the LEXICAL list
    (rag_bm25_topk) and the VECTOR list (sim_ann_join's hits for
    query vector 0, resolved to doc ids): the standard two-tower
    serving shape where neither signal alone wins. Fusion is pure
    integer arithmetic over two tiny ranked lists (<= 15 rows), so
    the cost is entirely in the upstream entries — which are shared
    (same staged IVF index, same staged corpus stats) and therefore
    amortized when the registry sweep runs all three."""
    from .similarity import sim_ann_join

    lex = rag_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("r")
    )
    vec = (
        sim_ann_join(spark, sf_dir)
        .where(F.col("query_id") == 0)
        .select(F.col("nbr_id").alias("doc_id"), F.col("nn_rank").alias("r"))
    )
    fused = (
        lex.unionByName(vec)
        .withColumn(
            "contrib", F.expr(f"CAST({_RRF_LCM} AS BIGINT) div ({_RRF_K0} + r)")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("rrf_scaled"),
            F.count(F.lit(1)).alias("n_lists"),
        )
    )
    top = fused.orderBy(F.desc("rrf_scaled"), F.asc("doc_id")).limit(10)
    w = W.orderBy(F.desc("rrf_scaled"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("fused_rank"),
        "doc_id",
        "rrf_scaled",
        "n_lists",
    )


def _rag_hybrid_rrf_sql() -> str:
    from .similarity import _SIM_ANN_JOIN_SQL

    return f"""
WITH lex AS MATERIALIZED (
{_RAG_BM25_TOPK_SQL}
), ann AS MATERIALIZED (
{_SIM_ANN_JOIN_SQL}
), lists AS (
  SELECT doc_id, rank AS r FROM lex
  UNION ALL
  SELECT nbr_id AS doc_id, nn_rank AS r FROM ann WHERE query_id = 0
), fused AS (
  SELECT doc_id,
         CAST(SUM({_RRF_LCM} // ({_RRF_K0} + r)) AS BIGINT) AS rrf_scaled,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM lists GROUP BY doc_id
)
SELECT * FROM (
  SELECT CAST(row_number() OVER
           (ORDER BY rrf_scaled DESC, doc_id) AS BIGINT) AS fused_rank,
         doc_id, rrf_scaled, n_lists
  FROM fused
) WHERE fused_rank <= 10
"""


# ---------------------------------------------------------------------------
# rag_mmr_rerank — maximal-marginal-relevance diversity reranking
# ---------------------------------------------------------------------------

_MMR_CAND = 20  # candidate pool from first-stage retrieval
_MMR_K = 5  # reranked slate size
# lambda = 0.7, cleared of the denominator: score = 7*rel - 3*max_sim
_MMR_REL_W, _MMR_DIV_W = 7, 3

# Fixed-point cosine both engines compute identically: the int64 dot
# and norms are exact, the double divide/sqrt are IEEE-correctly-
# rounded single operations in the SAME order, and floor(x * 1e6)
# lands on the same integer. (dot <= 64 * (2e6)^2 ~ 2.6e14 < 2^53, so
# the int->double conversion is exact.)
_COS_PPM = (
    "CAST(floor(CAST({dot} AS DOUBLE)"
    " / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
    " * 1000000.0) AS BIGINT)"
)


def rag_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking of the vector top-20 for
    query vec 0 — the diversity stage every RAG serving stack puts
    between retrieval and the context window (near-duplicate passages
    waste prompt tokens; MMR trades relevance against redundancy):
    greedily pick argmax of 7*rel - 3*max_sim_to_selected until k=5.

    Scale shape: the DISTRIBUTED work is the first stage (exact
    cosine top-20 here, TakeOrderedAndProject over the corpus — at
    100 TB that stage is the IVF/ANN index path, same candidates).
    The rerank itself touches only the candidate slate: 20 rows and
    their 20x19 pairwise similarities, materialized once as eager
    localCheckpoints (lineage-free, broadcast-sized), then k-1 tiny
    argmax jobs — greedy selection is sequential BY DEFINITION, so
    doing it over a checkpointed 20-row frame is the correct plan at
    any corpus size. All scores are fixed-point ppm integers; the
    DuckDB twin unrolls the same greedy steps as chained CTEs."""
    from .similarity import _DOT, _emb_q

    emb = _emb_q(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("q").alias("qq"), F.col("nrm").alias("qnrm")
    )
    rel = F.expr(
        _COS_PPM.format(dot=_DOT.format(a="q", b="qq"), na="nrm", nb="qnrm")
    )
    cand = (
        emb.where(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select("vec_id", "q", "nrm", rel.alias("rel_ppm"))
        .orderBy(F.desc("rel_ppm"), F.asc("vec_id"))
        .limit(_MMR_CAND)
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        F.col("vec_id").alias("a"), F.col("q").alias("qa"), F.col("nrm").alias("na")
    )
    b = cand.select(
        F.col("vec_id").alias("b"), F.col("q").alias("qb"), F.col("nrm").alias("nb")
    )
    sim = F.expr(
        _COS_PPM.format(dot=_DOT.format(a="qa", b="qb"), na="na", nb="nb")
    )
    pairs = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", sim.alias("sim_ppm"))
        .localCheckpoint(eager=True)
    )
    first = (
        cand.orderBy(F.desc("rel_ppm"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("mmr_rank"),
            "vec_id",
            "rel_ppm",
            (F.lit(_MMR_REL_W) * F.col("rel_ppm")).alias("mmr_score"),
        )
        .localCheckpoint(eager=True)
    )
    picks = [first]
    selected = first.select("vec_id")
    for r in range(2, _MMR_K + 1):
        maxsim = (
            pairs.join(selected.withColumnRenamed("vec_id", "b"), "b")
            .groupBy("a")
            .agg(F.max("sim_ppm").alias("ms"))
        )
        pick = (
            cand.join(selected, "vec_id", "left_anti")
            .join(maxsim, cand.vec_id == maxsim.a)
            .select(
                F.lit(r).cast("long").alias("mmr_rank"),
                "vec_id",
                "rel_ppm",
                (
                    F.lit(_MMR_REL_W) * F.col("rel_ppm")
                    - F.lit(_MMR_DIV_W) * F.col("ms")
                ).alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
        selected = selected.union(pick.select("vec_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _mmr_sql() -> str:
    from .similarity import _DOT_DUCK, _QUANT_DUCK

    rel = _COS_PPM.format(
        dot=_DOT_DUCK.format(a="q", b="qq"), na="nrm", nb="qnrm"
    )
    sim = _COS_PPM.format(
        dot=_DOT_DUCK.format(a="a.q", b="b.q"), na="a.nrm", nb="b.nrm"
    )
    sql = f"""
WITH eq AS (
  SELECT vec_id, {_QUANT_DUCK} AS q,
         {_DOT_DUCK.format(a=_QUANT_DUCK, b=_QUANT_DUCK)} AS nrm
  FROM embeddings
), query AS (
  SELECT q AS qq, nrm AS qnrm FROM eq WHERE vec_id = 0
), cand AS MATERIALIZED (
  SELECT vec_id, q, nrm, {rel} AS rel_ppm
  FROM eq CROSS JOIN query
  WHERE vec_id != 0
  ORDER BY rel_ppm DESC, vec_id LIMIT {_MMR_CAND}
), pairs AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b, {sim} AS sim_ppm
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
), p1 AS (
  SELECT CAST(1 AS BIGINT) AS mmr_rank, vec_id, rel_ppm,
         CAST({_MMR_REL_W} * rel_ppm AS BIGINT) AS mmr_score
  FROM cand ORDER BY rel_ppm DESC, vec_id LIMIT 1
), sel1 AS (SELECT vec_id FROM p1)"""
    prev = "sel1"
    for r in range(2, _MMR_K + 1):
        sql += f""", p{r} AS (
  SELECT CAST({r} AS BIGINT) AS mmr_rank, c.vec_id, c.rel_ppm,
         CAST({_MMR_REL_W} * c.rel_ppm
              - {_MMR_DIV_W} * MAX(p.sim_ppm) AS BIGINT) AS mmr_score
  FROM cand c JOIN pairs p
    ON p.a = c.vec_id AND p.b IN (SELECT vec_id FROM {prev})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id, c.rel_ppm
  ORDER BY mmr_score DESC, c.vec_id LIMIT 1
), sel{r} AS (
  SELECT vec_id FROM {prev} UNION SELECT vec_id FROM p{r}
)"""
        prev = f"sel{r}"
    sql += "".join(
        f"\nSELECT * FROM p{r}" + ("\nUNION ALL" if r < _MMR_K else "")
        for r in range(1, _MMR_K + 1)
    )
    return sql


QUERIES = {
    "idx_inverted": QuerySpec(idx_inverted, _IDX_INVERTED_SQL, ("retrieval",)),
    "rag_mmr_rerank": QuerySpec(
        rag_mmr_rerank, _mmr_sql(), ("retrieval", "rerank", "mmr")
    ),
    "rag_bm25_topk": QuerySpec(
        rag_bm25_topk, _RAG_BM25_TOPK_SQL, ("retrieval", "ranking")
    ),
    "rag_late_interaction": QuerySpec(
        rag_late_interaction,
        _RAG_LATE_INTERACTION_SQL,
        ("retrieval", "colbert", "maxsim"),
    ),
    "rag_context_packing": QuerySpec(
        rag_context_packing,
        _RAG_CONTEXT_PACKING_SQL,
        ("retrieval", "packing", "budget"),
    ),
    "rag_hybrid_rrf": QuerySpec(
        rag_hybrid_rrf, _rag_hybrid_rrf_sql(), ("retrieval", "fusion")
    ),
    "rag_query_expansion": QuerySpec(
        rag_query_expansion,
        _rag_query_expansion_sql(),
        ("retrieval", "prf", "rocchio"),
    ),
}


def txt_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the query-free twin of
    BM25: document keywording / topic signature extraction. Scores
    are exact int64 (tf x the same scaled rational IDF as
    rag_bm25_topk), document frequencies are a small broadcast
    (vocabulary-sized), and the top-3 cut is a window partitioned by
    doc_id — per-document state, perfectly parallel, no global
    sort. The (doc, term, tf) table is the staged forward-index
    front shared with the BM25 family — the per-entry rebuild
    re-planned the corpus explode three times (stats / dfreq /
    scored); riding the memoized front leaves zero corpus scans in
    the warm plan."""
    tf = _tf_front(spark, sf_dir).select("doc_id", "term", "tf")
    stats = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "tfidf_scaled",
            F.expr("tf * (((2 * (n_docs - df) + 1) * 10000) div (2 * df + 1))"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tfidf_scaled"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("long"))
        .where(F.col("term_rank") <= 3)
        .select("doc_id", "term_rank", "term", "tfidf_scaled")
    )


_TXT_TFIDF_TOPTERMS_SQL = f"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS_DUCK}) AS term FROM documents)
  GROUP BY doc_id, term
), stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term
), scored AS (
  SELECT doc_id, term,
         tf * (((2 * (n_docs - df) + 1) * 10000) // (2 * df + 1))
           AS tfidf_scaled
  FROM tf JOIN dfreq USING (term), stats
)
SELECT doc_id, term_rank, term, CAST(tfidf_scaled AS BIGINT) AS tfidf_scaled
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf_scaled DESC, term) AS BIGINT) AS term_rank
  FROM scored
) WHERE term_rank <= 3
"""

QUERIES["txt_tfidf_topterms"] = QuerySpec(
    txt_tfidf_topterms, _TXT_TFIDF_TOPTERMS_SQL, ("retrieval", "tfidf")
)
