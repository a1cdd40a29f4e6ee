"""Text analysis + deduplication over the documents table — the
training-data-pipeline extension surface (repo:BASELINE.json:6;
SURVEY.md §2 *(ext)* rows).

All operators are expressed with built-in JVM-side functions (regexp,
array HOFs, md5) — no Python UDFs in any hot path — and each has a
DuckDB oracle. Scale notes per operator:

- exact dedup: hash-groupBy, one shuffle on the digest — the 100 TB
  shape (digest is computed map-side, shuffle carries 16 bytes/row).
- n-gram Jaccard: shingle-explode + equi-join on shingle. Never a
  cross join; skew from stop-shingles is bounded by dropping
  ultra-frequent shingles (document-frequency cap) — at 100 TB add a
  broadcast DF-filter of the top-k shingles.
- MinHash+LSH: k=16 keyed-md5 min-hashes, 4 bands x 4 rows; candidate
  pairs via equi-join on (band, band_key). This is the sub-quadratic
  scale path: cost is O(docs x k) + join on collisions only.
- SimHash: 64-bit signature (majority vote over distinct-token md5
  bits) stored as a 4 x 16-bit band array; candidate pairs via
  equi-join on (band, band_value) — a doc pair within Hamming
  distance 3 of 64 shares at least one full band (pigeonhole), so
  banding loses no recall. Occupied band keys grow with the corpus,
  so the join stays sub-quadratic at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.session_cache import app_dir, front
from ..registry import QuerySpec
from ..sources.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")
_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"

# token/shingle builders shared across operators (Spark SQL expr + DuckDB).
#
# PERFORMANCE RULES (both measured at sf0.1):
# 1. Tokens are staged as a real projection column and every lambda
#    references the *attribute* multiple times — CollapseProject keeps
#    a projection boundary only for non-cheap aliases referenced more
#    than once; a single-reference alias gets inlined into the
#    consuming lambda and re-evaluated per element (16x for the
#    minhash signature — that inlining cost 4s of an 8s query).
# 2. Shingles are hashed to 48-bit ints AT CONSTRUCTION (md5-prefix,
#    identical in both engines); dedup joins/aggregations shuffle and
#    compare int64s, never ~25-char strings, and array_distinct runs
#    on ints (string array_distinct was the top CPU item). Collision
#    odds at 2^48 are ~1e-10 per doc — and both engines hash
#    identically, so parity is unaffected regardless.
_TOKENS = r"regexp_extract_all(text, '\\S+', 0)"
_TOKENS_DUCK = r"regexp_extract_all(text, '\S+')"
_SH_HASH = (
    "array_distinct(transform(sequence(0, size(toks) - 3), i -> "
    "CAST(conv(substring(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])), "
    "1, 12), 16, 10) AS BIGINT)))"
)
_SH_HASH_DUCK = (
    "list_distinct(list_transform(range(1, len(toks) - 1), i -> "
    "CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), "
    "1, 12)) AS BIGINT)))"
)


# Session-scoped materialized shingle tables. Two reasons, both
# measured at sf0.1: (a) exploding over the un-materialized lineage
# re-evaluates the expensive shingle expression inside Generate
# (0.45 s from a materialized source vs 14 s from lineage); (b) the
# dedup operators each consume the shingle table 2-3 times (sizes,
# pairs, signatures) and would otherwise recompute the regexp+md5
# chain per consumer. On a cluster this intermediate is a cached or
# bucketed table — the standard shape for multi-consumer pipelines.
def _shingled_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.expr(_TOKENS).alias("toks")).select(
        "doc_id",
        F.when(F.size("toks") >= 3, F.expr(_SH_HASH))
        .otherwise(F.array().cast("array<bigint>"))
        .alias("sh"),
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, sh): distinct 48-bit 3-gram shingle
    hashes (guard: docs with < 3 tokens yield an empty set),
    materialized once per (session, dataset) — see
    session_cache.staged_key for the key discipline."""
    return front(
        spark,
        sf_dir,
        "shingles",
        lambda: _shingled_build(spark, sf_dir).localCheckpoint(eager=True),
    )


_SHINGLED_DUCK = f"""
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN {_SH_HASH_DUCK}
              ELSE [] END AS sh
  FROM (SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents)
"""


# ---------------------------------------------------------------------------
# txt_token_count — whitespace tokenization (token counting north-star op)
# ---------------------------------------------------------------------------

def txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars_text"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )


_TXT_TOKEN_COUNT_SQL = f"""
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_TOKENS_DUCK})) AS BIGINT) AS n_distinct_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# txt_quality_score — length/stopword/diversity heuristics
# ---------------------------------------------------------------------------

def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics a pretraining filter would compute: token
    count, stopword ratio, type-token diversity; thresholded into a
    keep/suspect label. Ratios are divisions of identical integers so
    both engines produce bit-identical doubles."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    ).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    diversity = n_distinct.cast("double") / n_tokens.cast("double")
    label = (
        F.when((n_tokens >= 20) & (stop_ratio <= 0.4) & (diversity >= 0.1), "keep")
        .otherwise("suspect")
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stop_ratio"),
        diversity.alias("diversity"),
        label.alias("quality_label"),
    )


_TXT_QUALITY_SCORE_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
         CAST(len(list_filter({_TOKENS_DUCK}, x -> x IN {_STOP_SQL})) AS BIGINT) AS n_stopwords,
         CAST(len(list_distinct({_TOKENS_DUCK})) AS BIGINT) AS n_distinct
  FROM documents
)
SELECT doc_id, n_tokens, n_stopwords,
       CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS diversity,
       CASE WHEN n_tokens >= 20
             AND CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.4
             AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.1
            THEN 'keep' ELSE 'suspect' END AS quality_label
FROM t
"""


# ---------------------------------------------------------------------------
# txt_repetition_filter — Gopher-style repetition signals
# ---------------------------------------------------------------------------

def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition heuristics from the published Gopher/MassiveText
    filtering rules (Rae et al. 2021, §A1.1): the most-frequent-token
    share and the duplicate-bigram excess (occurrences beyond each
    bigram's first). Docs dominated by one token or by repeated
    bigrams are boilerplate/spam candidates for a pretraining filter.

    Plan shape: ZERO shuffle — every signal is a per-document array
    computation (higher-order functions over the staged token array),
    so the op runs at scan speed and scales embarrassingly at 100 TB.
    The top-token count is max over distinct tokens of its occurrence
    count (O(distinct x n) per doc, bounded by doc length); bigram
    excess is n_bigrams - distinct bigrams. Fractions are divisions
    of identical integers -> bit-identical doubles on both engines."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    n_tokens = F.size("toks").cast("long")
    top_n = F.expr(
        "array_max(transform(array_distinct(toks), w ->"
        " size(filter(toks, x -> x = w))))"
    ).cast("long")
    n_bigrams = F.greatest(F.size("toks") - 1, F.lit(0)).cast("long")
    # sequence(0, -1) DESCENDS in Spark, so the <2-token case must be
    # guarded out rather than relying on an empty sequence
    dup_excess = F.when(F.size("toks") < 2, F.lit(0).cast("long")).otherwise(
        n_bigrams
        - F.expr(
            "size(array_distinct(transform(sequence(0, size(toks) - 2), i ->"
            " concat_ws(' ', toks[i], toks[i+1]))))"
        ).cast("long")
    )
    top_frac = F.when(
        n_tokens > 0, top_n.cast("double") / n_tokens.cast("double")
    )
    dup_frac = F.when(
        n_bigrams > 0, dup_excess.cast("double") / n_bigrams.cast("double")
    )
    label = (
        F.when(n_tokens == 0, "empty")
        .when((top_frac > 0.2) | (dup_frac > 0.4), "repetitive")
        .otherwise("ok")
    )
    return staged.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        top_n.alias("top_token_n"),
        n_bigrams.alias("n_bigrams"),
        dup_excess.alias("dup_bigram_excess"),
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_bigram_frac"),
        label.alias("repetition_label"),
    )


_TXT_REPETITION_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) AS BIGINT) AS top_token_n,
         CAST(GREATEST(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
         CAST(GREATEST(len(toks) - 1, 0)
              - len(list_distinct(list_transform(range(1, GREATEST(len(toks), 1)),
                    i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS dup_bigram_excess
  FROM t
)
SELECT doc_id, n_tokens, top_token_n, n_bigrams, dup_bigram_excess,
       CASE WHEN n_tokens > 0
            THEN CAST(top_token_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) END
         AS top_token_frac,
       CASE WHEN n_bigrams > 0
            THEN CAST(dup_bigram_excess AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END
         AS dup_bigram_frac,
       CASE WHEN n_tokens = 0 THEN 'empty'
            WHEN CAST(top_token_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.2
              OR (n_bigrams > 0 AND CAST(dup_bigram_excess AS DOUBLE)
                    / CAST(n_bigrams AS DOUBLE) > 0.4)
            THEN 'repetitive' ELSE 'ok' END AS repetition_label
FROM s
"""


# ---------------------------------------------------------------------------
# txt_langid — marker-token language heuristic
# ---------------------------------------------------------------------------

# Function-word profiles (public-knowledge closed-class words — the
# standard cheap langid signal; a real system swaps these literals for
# a broadcast character-n-gram LM table, same plan shape). zh is not
# space-tokenized, so its signal is CJK codepoint count on the raw
# text instead of token membership.
_LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "of", "and", "to", "in", "is", "that", "it"),
    "es": ("el", "los", "las", "una", "por", "para", "como", "pero"),
    "fr": ("le", "la", "les", "est", "dans", "pour", "avec", "sur"),
}
# Java regex (Spark) spells CJK \uXXXX; RE2 (DuckDB) needs \x{XXXX}.
_CJK = "[\\u4e00-\\u9fff]"
_CJK_DUCK = "[\\x{4e00}-\\x{9fff}]"


def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: count lowercase-token hits against per-language
    function-word profiles (plus CJK codepoint count for zh), then
    argmax with a fixed tie order (de<en<es<fr<zh alphabetical; all
    zero -> 'und'). One projection, no shuffle, marker sets are plan
    literals (broadcast table at scale). The synthetic corpus is
    English-vocabulary under every label, so guesses skew 'en' —
    `agrees_with_label` reports exactly that honestly."""
    d = load_table(spark, sf_dir, "documents")
    low = F.expr("transform(" + _TOKENS + ", t -> lower(t))")
    def _membership(markers):
        # closure, not a default arg: pyspark binds a Column to every
        # lambda parameter, including defaulted ones
        return lambda t: t.isin(*markers)

    hits = {
        lang: F.size(F.filter(low, _membership(markers))).cast("long")
        for lang, markers in _LANG_MARKERS.items()
    }
    hits["zh"] = F.size(F.expr(f"regexp_extract_all(text, '{_CJK}', 0)")).cast("long")
    staged = d.select("doc_id", "lang", *[h.alias(f"h_{k}") for k, h in hits.items()])
    cols = sorted(hits)  # de, en, es, fr, zh — the deterministic tie order
    mx = F.greatest(*[F.col(f"h_{k}") for k in cols])
    guess = F.when(mx == 0, "und")
    for k in cols:
        guess = guess.when(F.col(f"h_{k}") == mx, k)
    guess = guess.otherwise("und")
    return staged.select(
        "doc_id",
        "lang",
        *[F.col(f"h_{k}").alias(f"{k}_hits") for k in cols],
        guess.alias("lang_guess"),
        (guess == F.col("lang")).alias("agrees_with_label"),
    )


def _txt_langid_sql() -> str:
    hit_exprs = ", ".join(
        f"CAST(len(list_filter(list_transform({_TOKENS_DUCK}, t -> lower(t)), "
        f"x -> x IN ({', '.join(repr(m) for m in marks)}))) AS BIGINT) AS h_{lang}"
        for lang, marks in _LANG_MARKERS.items()
    )
    cols = sorted(list(_LANG_MARKERS) + ["zh"])
    mx = "greatest(" + ", ".join(f"h_{k}" for k in cols) + ")"
    guess = "CASE WHEN " + mx + " = 0 THEN 'und' " + " ".join(
        f"WHEN h_{k} = {mx} THEN '{k}'" for k in cols
    ) + " ELSE 'und' END"
    sel = ", ".join(f"h_{k} AS {k}_hits" for k in cols)
    return f"""
WITH t AS (
  SELECT doc_id, lang, {hit_exprs},
         CAST(len(regexp_extract_all(text, '{_CJK_DUCK}')) AS BIGINT) AS h_zh
  FROM documents
)
SELECT doc_id, lang, {sel}, {guess} AS lang_guess,
       ({guess}) = lang AS agrees_with_label
FROM t
"""


_TXT_LANGID_SQL = _txt_langid_sql()


# ---------------------------------------------------------------------------
# txt_fingerprint — canonical-text digest (document fingerprinting)
# ---------------------------------------------------------------------------

def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    canon = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.substring(F.md5(canon), 1, 8).alias("fp_prefix"),
    )


_TXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
       substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 8) AS fp_prefix
FROM documents
"""


# ---------------------------------------------------------------------------
# txt_pii_redact — PII scrubbing (emails / phones / IPv4)
# ---------------------------------------------------------------------------
#
# The regexes use ONLY the Java-regex ∩ RE2 common subset (character
# classes, bounded repetition, \b word boundary) so Spark's
# regexp_replace/regexp_count and DuckDB's regexp_* compile them to
# identical languages. The fixture corpus is synthetic word soup with
# no PII, so each doc is AUGMENTED in-plan with deterministic
# doc_id-derived PII (an email, a phone, an IP) before redaction —
# the same expression on both engines — making the entry a full
# functional check (every row must redact exactly 3 spans), not a
# no-op pass-through.

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"


def txt_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance stage of a training-data
    pipeline: scrub emails, then IPv4 addresses, then 7-digit phone
    fragments (order matters: the email's host part must be gone
    before the looser dotted/dashed-digit patterns run), and report
    per-category match counts for audit. Map-side only (regex per
    row, no shuffle, composes with scan pruning); at 100 TB this
    runs at scan speed as the first narrow stage after ingest."""
    d = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 192.168."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(pii, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IP),
            F.lit("<IP>"),
        ),
        F.lit(_PII_PHONE),
        F.lit("<PHONE>"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(pii, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(pii, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_IP),
        ).cast("long").alias("n_ips"),
        red.alias("redacted"),
    )


_TXT_PII_REDACT_SQL = rf"""
WITH aug AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@mail' || CAST(doc_id % 10 AS VARCHAR)
              || '.example.com or 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS pii
  FROM documents
), e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(pii, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(pii, '{_PII_EMAIL}', '<EMAIL>', 'g') AS after_email
  FROM aug
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(after_email, '{_PII_IP}')) AS BIGINT) AS n_ips,
       regexp_replace(regexp_replace(after_email, '{_PII_IP}', '<IP>', 'g'),
                      '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM e
"""


# ---------------------------------------------------------------------------
# dedup_exact — hash-groupBy exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest map-side, groupBy digest, keep min doc_id
    (deterministic survivor). At 100 TB the shuffle carries only
    (digest, doc_id) — never the text. ``spread=False``: the only map
    work is the md5 projection, so it runs in the one scan task of the
    original file."""
    d = load_table(spark, sf_dir, "documents", spread=False)
    return (
        d.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS h, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — shingle-join near-dup pairs
# ---------------------------------------------------------------------------

_DF_CAP = 20  # drop shingles appearing in more docs (stop-shingles)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.8 near-dup pairs via shingle
    equi-join (sub-quadratic; no cross join). Stop-shingles — those in
    more than _DF_CAP documents — are excluded from PAIR GENERATION
    (set sizes stay full): a shingle in d docs creates O(d^2) pairs,
    so heavy hitters dominate cost while contributing nothing to
    >=0.8 pairs (measured 4x at sf0.1; at 100 TB the cap is what
    keeps the join linear). RECALL BOUND: a pair whose ONLY shared
    shingles are stop-shingles (each in > _DF_CAP docs) is silently
    missed — impossible for planted near-dups here (they share df~2
    shingles), and unlikely for real >=0.8 pairs (a 0.8-Jaccard pair
    shares ~4/5 of its shingles; all of them being corpus-wide heavy
    hitters means the docs are near-duplicates OF A TEMPLATE, which
    exact dedup on the template hash catches first). When that bound
    is not acceptable, use dedup_ngram_prefix below — prefix
    filtering gives EXACT recall with no cap.
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) from identical int64s ->
    bit-identical doubles on both engines."""
    return _jaccard_from_counts(_shared_counts_cached(spark, sf_dir))


# The shared-counts front half is the bulk of BOTH overlap joins
# (Jaccard and containment); persist it once per (session, sf_dir) so
# the second consumer reads the staged pairs instead of re-running
# the explode + three shuffles. On a cluster this intermediate is the
# natural cached/bucketed 'candidate pairs' table.
def _shared_counts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        sh = _shingled(spark, sf_dir).select("doc_id", F.explode("sh").alias("s"))
        return _shared_shingle_counts(sh).persist()

    return front(spark, sf_dir, "shared_counts", build)


def _jaccard_pairs_from_shingles(sh: DataFrame) -> DataFrame:
    """Core of dedup_ngram_jaccard over an exploded (doc_id, s)
    shingle frame — injectable so the skew-robustness test
    (tests/test_scale_blocking.py::test_ngram_jaccard_df_cap_bounds_hot_shingle)
    can plant a power-law shingle and assert the DF-cap keeps
    per-key state and candidate counts bounded. Shares the EXACT
    scoring tail with the registry entry (single definition — the
    tested path cannot diverge from the shipped path)."""
    return _jaccard_from_counts(_shared_shingle_counts(sh))


def _jaccard_from_counts(counts: DataFrame) -> DataFrame:
    jac = counts.withColumn(
        "jaccard",
        F.col("i").cast("double")
        / (F.col("na") + F.col("nb") - F.col("i")).cast("double"),
    )
    return jac.where(F.col("jaccard") >= 0.8).select("doc1", "doc2", "jaccard")


def _shared_shingle_counts(sh: DataFrame) -> DataFrame:
    """(doc1, doc2, i, na, nb): candidate doc pairs with their shared
    RARE-shingle count and full set sizes — the common front half of
    the Jaccard and containment joins."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # pair generation WITHOUT a shingle self-join: drop heavy
    # stop-shingles FIRST via a cheap count + semi-join (partial
    # counts combine map-side; no aggregation buffer ever holds a hot
    # shingle's doc list), THEN group the surviving doc_ids per
    # shingle — each collect_list is bounded by _DF_CAP — and explode
    # the <= C(20,2) pairs. Two shuffles on the shingle, one on the
    # pair; no unbounded state anywhere.
    rare = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= _DF_CAP))
        .select("s")
    )
    pairs = (
        sh.join(rare, "s", "left_semi")
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x AS doc1, y AS doc2))))"
                )
            ).alias("p")
        )
        .select("p.doc1", "p.doc2")
    )
    inter = pairs.groupBy("doc1", "doc2").agg(F.count(F.lit(1)).alias("i"))
    sa = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("nb"))
    return inter.join(sa, "doc1").join(sb, "doc2")


_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), sh AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_DF_CAP}
), sh_rare AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
), inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
  FROM sh_rare a JOIN sh_rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc1, doc2,
       CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON doc1 = sa.doc_id
JOIN sizes sb ON doc2 = sb.doc_id
WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8
"""


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric overlap (excerpt/quote detection)
# ---------------------------------------------------------------------------

_CONTAINMENT_T = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) >=
    0.9 — the asymmetric overlap measure that catches a short
    document embedded in a long one (quotes, excerpts, boilerplate
    wrappers), which symmetric Jaccard structurally misses: a
    100-shingle doc fully contained in a 1000-shingle doc has
    J = 0.1 but containment 1.0. Same sub-quadratic candidate front
    as the Jaccard join (DF-capped shingle equi-join — identical
    recall bound and scale shape); output orients each pair as
    (doc_small, doc_big) by set size, doc id as the tie-break."""
    c = _shared_counts_cached(spark, sf_dir).withColumn(
        "containment",
        F.col("i").cast("double") / F.least("na", "nb").cast("double"),
    )
    small_first = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc1") < F.col("doc2"))
    )
    return (
        c.where(F.col("containment") >= _CONTAINMENT_T)
        .select(
            F.when(small_first, F.col("doc1")).otherwise(F.col("doc2")).alias(
                "doc_small"
            ),
            F.when(small_first, F.col("doc2")).otherwise(F.col("doc1")).alias(
                "doc_big"
            ),
            "containment",
        )
    )


_DEDUP_CONTAINMENT_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), sh AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_DF_CAP}
), sh_rare AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
), inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS i
  FROM sh_rare a JOIN sh_rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc1, doc2, sa.n AS na, sb.n AS nb,
         CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
  FROM inter
  JOIN sizes sa ON doc1 = sa.doc_id
  JOIN sizes sb ON doc2 = sb.doc_id
)
SELECT CASE WHEN na < nb OR (na = nb AND doc1 < doc2) THEN doc1 ELSE doc2 END
         AS doc_small,
       CASE WHEN na < nb OR (na = nb AND doc1 < doc2) THEN doc2 ELSE doc1 END
         AS doc_big,
       containment
FROM scored WHERE containment >= {_CONTAINMENT_T}
"""


# ---------------------------------------------------------------------------
# dedup_ngram_prefix — exact-recall Jaccard join via prefix filtering
# ---------------------------------------------------------------------------

# The AllPairs prefix index (doc_id, prefix shingle), staged per
# (application, dataset): production PPJoin systems persist the
# prefix-inverted index; here the candidate join consumes the SAME
# frame on both sides, and unstaged Catalyst re-evaluates the
# df-count groupBy + join + two windows per side.
def _prefix_index_build(sh_arr: DataFrame) -> DataFrame:
    sh = sh_arr.select("doc_id", F.explode("sh").alias("s"))
    df_counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    ranked = (
        sh.join(df_counts, "s")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    )
    return ranked.where(
        F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    ).select("doc_id", "s")


def _prefix_index(
    spark: SparkSession, sf_dir: str, sh_arr: DataFrame
) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "prefix_index",
        lambda: _prefix_index_build(sh_arr).localCheckpoint(eager=True),
    )


def dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.8 with EXACT recall and no DF cap —
    the AllPairs/PPJoin prefix filter (Bayardo et al., WWW'07; Xiao et
    al., WWW'08): order every doc's shingles by a global canonical
    order (df asc, shingle asc — rarest first), keep only the first
    |A| - ceil(t*|A|) + 1 as the doc's PREFIX, and generate candidates
    by equi-joining prefixes. Any pair with J >= t must share a
    prefix element, so unlike the _DF_CAP variant nothing is missed;
    heavy stop-shingles land at the END of the order and almost never
    enter a prefix, so the join stays sub-quadratic without dropping
    them. Exact Jaccard is then computed per candidate from the full
    shingle arrays. ceil(t*n) is evaluated as (4n+4) div 5 — pure
    int64, identical in both engines.

    Scale: two shuffles (df count, per-doc window) + an equi-join on
    prefix shingles whose per-key fanout is the shingle's PREFIX df,
    a small fraction of its raw df. Exactness at test scale is pinned
    against a brute-force pairwise join in
    tests/test_scale_blocking.py::test_prefix_filter_recall_is_exact."""
    sh_arr = _shingled(spark, sf_dir)  # (doc_id, sh array)
    prefix = _prefix_index(spark, sf_dir, sh_arr)
    a = prefix.select(F.col("doc_id").alias("doc1"), "s")
    b = prefix.select(F.col("doc_id").alias("doc2"), "s")
    cands = (
        a.join(b, "s")
        .where(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    s1 = sh_arr.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sh_arr.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("long")
    jac = inter.cast("double") / (
        F.size("sh1") + F.size("sh2") - inter
    ).cast("double")
    return (
        cands.join(s1, "doc1")
        .join(s2, "doc2")
        .select("doc1", "doc2", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


_DEDUP_NGRAM_PREFIX_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), sh AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), dfs AS (
  SELECT s, COUNT(*) AS df FROM sh GROUP BY s
), ranked AS (
  SELECT sh.doc_id, sh.s,
         row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfs.df, sh.s) AS rn,
         COUNT(*) OVER (PARTITION BY sh.doc_id) AS n
  FROM sh JOIN dfs USING (s)
), prefix AS (
  SELECT doc_id, s FROM ranked WHERE rn <= n - ((4*n + 4) // 5) + 1
), cands AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT doc1, doc2,
       CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         / CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         AS jaccard
FROM cands
JOIN shingled s1 ON doc1 = s1.doc_id
JOIN shingled s2 ON doc2 = s2.doc_id
WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
      / CAST(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
      >= 0.8
"""


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — MinHash signatures + banded LSH candidate pairs
# ---------------------------------------------------------------------------

_K = 16  # minhash permutations
_BANDS = 4  # 4 bands x 4 rows
_MINHASH_P = 268435399  # prime < 2^28: (2s+1)*h_48bit stays inside int64


def _sigs_from_shingled(sh_df: DataFrame) -> DataFrame:
    """(doc_id, sh) -> (doc_id, sig): explode + 16 conditional MIN
    aggregates (one shuffle on doc_id; partial mins combine
    map-side)."""
    hs = sh_df.select("doc_id", F.explode("sh").alias("h"))
    mins = [
        F.min(
            (F.lit(2 * s + 1) * F.col("h") + F.lit(s * 7919 + 13)) % _MINHASH_P
        ).alias(f"m{s}")
        for s in range(_K)
    ]
    return (
        hs.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{s}" for s in range(_K)]).alias("sig"))
    )


def _sigs_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, sig) MinHash signatures for an
    ARBITRARY document frame — the uncached core of `_minhash_sigs`,
    reused by the streaming micro-batch dedup path
    (streaming/windows.py:stream_dedup_lsh), where the input is a
    foreachBatch slice rather than the at-rest table."""
    sh = docs.select("doc_id", F.expr(_TOKENS).alias("toks")).select(
        "doc_id",
        F.when(F.size("toks") >= 3, F.expr(_SH_HASH))
        .otherwise(F.array().cast("array<bigint>"))
        .alias("sh"),
    )
    return _sigs_from_shingled(sh)


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig): the k=16 MinHash signature — affine min-hashes
    (2s+1)*h + s*7919 + 13 mod P over the single 48-bit hash per
    3-gram shingle, over the session-cached shingle frame."""
    return _sigs_from_shingled(_shingled(spark, sf_dir))


def _minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, bkey): one row per signature band — the LSH
    bucketing key a doc collides on."""
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_BANDS}-1), b -> "
                f"struct(b AS band, concat_ws('|', slice(sig, b*4+1, 4)) AS bkey))"
            )
        ).alias("bk"),
    ).select(
        "doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: per doc a k=16 signature of
    affine min-hashes — (2s+1)*h + s*7919 + 13 mod P over the single
    48-bit hash per 3-gram shingle — so signature cost is
    O(n_shingles) md5 + O(k*n_shingles) int ops, not O(k*n_shingles)
    md5. The aggregate form can't fall into the CollapseProject
    lambda re-evaluation trap and is the shape that scales.
    Signatures cut into 4 bands of 4; docs colliding on any (band,
    band_key) become a candidate pair, scored by signature agreement
    (est. Jaccard = matches/k). The join is on band keys only — the
    classic sub-quadratic LSH shape that survives 100 TB."""
    bands = _minhash_bands(_minhash_sigs(spark, sf_dir))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            (
                F.expr(
                    "aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1L, 0L)),"
                    " 0L, (acc, v) -> acc + v)"
                ).cast("double")
                / float(_K)
            ).alias("est_jaccard"),
        )
        .distinct()
    )


_MINS_DUCK = ", ".join(
    f"MIN(({2 * s + 1} * h + {s * 7919 + 13}) % {_MINHASH_P}) AS m{s}"
    for s in range(_K)
)
_SIG_ARRAY_DUCK = "[" + ", ".join(f"m{s}" for s in range(_K)) + "]"

_DEDUP_MINHASH_LSH_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), hs AS (
  SELECT doc_id, unnest(sh) AS h FROM shingled
), sigmins AS (
  SELECT doc_id, {_MINS_DUCK} FROM hs GROUP BY doc_id
), sigs AS (
  SELECT doc_id, {_SIG_ARRAY_DUCK} AS sig FROM sigmins
), bands AS (
  SELECT doc_id, b AS band,
         array_to_string(sig[b*4+1 : b*4+4], '|') AS bkey
  FROM sigs, (SELECT unnest(range(0, {_BANDS})) AS b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc1, doc2,
       CAST(list_sum(list_transform(range(1, {_K}+1),
                     i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
         / {float(_K)} AS est_jaccard
FROM pairs
JOIN sigs s1 ON doc1 = s1.doc_id
JOIN sigs s2 ON doc2 = s2.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_incremental_lsh — new batch vs a PERSISTED bucketed band index
# ---------------------------------------------------------------------------
#
# The 100 TB production shape: a pipeline does not re-deduplicate the
# whole corpus per run — it dedups each NEW BATCH against a persisted
# index. The index here is the MinHash band table of the standing
# corpus (doc_id % 10 != 0), written ONCE as a parquet table BUCKETED
# on the band key: the incremental join then consumes the bucketed
# scan directly (no shuffle and no signature recomputation on the
# index side — plan-asserted in tests/test_bucketing.py), and only
# the small new batch (doc_id % 10 = 0) pays signature computation.
# The band index carries `ikey` = band:bandkey as a single join
# column so bucketing on one column covers the whole collision key.

_LSH_INDEX_BUCKETS = 8


def _lsh_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per session+dataset) the persisted bucketed MinHash
    band index of the standing corpus; returns the table name. Data
    lands under tmp via an explicit path (never the process cwd);
    the catalog entry is session-scoped, so a fresh session rebuilds
    from the current fixture (no stale-index hazard across testdata
    regenerations)."""
    import os

    def build() -> str:
        path = app_dir(spark, sf_dir, "lsh_index")
        name = os.path.basename(path)
        corpus = _minhash_sigs(spark, sf_dir).where(F.col("doc_id") % 10 != 0)
        bands = _minhash_bands(corpus).select(
            "doc_id",
            "sig",
            F.concat_ws(":", F.col("band"), F.col("bkey")).alias("ikey"),
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            bands.write.format("parquet")
            .bucketBy(_LSH_INDEX_BUCKETS, "ikey")
            .sortBy("ikey")
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        return name

    return front(spark, sf_dir, "lsh_index", build)


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-run dedup: the new batch (doc_id % 10 = 0)
    is deduplicated AGAINST the persisted bucketed band index of the
    standing corpus — no full-corpus signature recomputation; the
    index side is a bucketed scan that feeds the join shuffle-free
    (tests/test_bucketing.py::test_lsh_index_join_no_index_shuffle).
    Output: candidate near-dup pairs (new doc, index doc) with the
    signature-agreement Jaccard estimate — the same score the
    whole-corpus `dedup_minhash_lsh` assigns. Within-batch (new-new)
    duplicates compose: run the standard banded self-join over the
    batch alone (it is small) and union; the index join here is the
    piece whose cost would otherwise scale with the standing corpus."""
    idx = spark.table(_lsh_index_table(spark, sf_dir))
    batch = _minhash_bands(
        _minhash_sigs(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    ).select(
        "doc_id",
        "sig",
        F.concat_ws(":", F.col("band"), F.col("bkey")).alias("ikey"),
    )
    a = batch.alias("a")
    b = idx.alias("b")
    return (
        a.join(b, F.col("a.ikey") == F.col("b.ikey"))
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_idx"),
            (
                F.expr(
                    "aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1L, 0L)),"
                    " 0L, (acc, v) -> acc + v)"
                ).cast("double")
                / float(_K)
            ).alias("est_jaccard"),
        )
        .distinct()
    )


_DEDUP_INCREMENTAL_LSH_SQL = f"""
WITH shingled AS ({_SHINGLED_DUCK}
), hs AS (
  SELECT doc_id, unnest(sh) AS h FROM shingled
), sigmins AS (
  SELECT doc_id, {_MINS_DUCK} FROM hs GROUP BY doc_id
), sigs AS (
  SELECT doc_id, {_SIG_ARRAY_DUCK} AS sig FROM sigmins
), bands AS (
  SELECT doc_id, b AS band,
         array_to_string(sig[b*4+1 : b*4+4], '|') AS bkey
  FROM sigs, (SELECT unnest(range(0, {_BANDS})) AS b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_idx
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
)
SELECT doc_new, doc_idx,
       CAST(list_sum(list_transform(range(1, {_K}+1),
                     i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
         / {float(_K)} AS est_jaccard
FROM pairs
JOIN sigs s1 ON doc_new = s1.doc_id
JOIN sigs s2 ON doc_idx = s2.doc_id
"""


# ---------------------------------------------------------------------------
# dedup_simhash — 64-bit SimHash + Hamming-distance near-dups
# ---------------------------------------------------------------------------

# 64-bit signature from per-token md5: bit p (0..63) votes +-1 on bit
# (p % 4) of hex digit (p div 4 + 1) of each distinct token's digest.
# Stored as a 4-element array of 16-bit band values — sidesteps int64
# sign-bit pitfalls AND is directly the 4x16 banding the candidate
# join needs. Per-band key space is 2^16 and the OCCUPIED key count
# grows with the corpus (vs 16 possible keys of the old 4-bit bands,
# which degenerated to O(N^2/16) pairs at scale).
#
# Spark computes the 64 vote counters in ONE pass over `hs`
# (zip_with accumulate); the votes array is lambda-bound via
# transform(array(...), votes -> ...)[0] — a projection alias would be
# inlined by CollapseProject and re-evaluated 64x (measured trap,
# see module header).
_SIMHASH64 = """
transform(
  array(aggregate(hs,
    transform(sequence(0, 63), p -> 0L),
    (acc, h) -> zip_with(acc, transform(sequence(0, 63), p ->
      IF(shiftright(instr('0123456789abcdef',
                          substring(h, (p div 4) + 1, 1)) - 1, p % 4) % 2 = 1,
         1L, -1L)),
      (a, b) -> a + b))),
  votes -> transform(sequence(0, 3), k ->
    aggregate(sequence(0, 15), 0L, (acc, i) ->
      acc + IF(element_at(votes, k * 16 + i + 1) > 0, shiftleft(1L, i), 0L))))[0]
"""


def _simhash64_duck() -> str:
    """DuckDB twin: same 4x16-bit band array, one literal vote term
    per bit (oracle clarity over speed — it runs at sf0.01)."""
    bands = []
    for k in range(4):
        terms = []
        for i in range(16):
            p = k * 16 + i
            vote = (
                "list_sum(list_transform(hs, h -> CASE WHEN "
                f"(((instr('0123456789abcdef', h[{p // 4 + 1}]) - 1) "
                f">> {p % 4}) & 1) = 1 THEN 1 ELSE -1 END))"
            )
            terms.append(f"CASE WHEN {vote} > 0 THEN {1 << i} ELSE 0 END")
        bands.append("CAST(" + " + ".join(terms) + " AS BIGINT)")
    return "[" + ", ".join(bands) + "]"


_SIMHASH64_DUCK = _simhash64_duck()

_HAMMING4 = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), "
    "0, (acc, v) -> acc + v) AS BIGINT)"
)
_HAMMING4_DUCK = (
    "CAST(list_sum(list_transform(range(1, 5), "
    "k -> bit_count(xor({a}[k], {b}[k])))) AS BIGINT)"
)


# The banded signature front (doc_id, sig, band, bits), staged per
# (application, dataset) like the minhash shingle front above: the
# 64-vote signature fold is the expensive part and the candidate
# join consumes the SAME frame on both sides — unstaged, Catalyst
# re-evaluates the fold per side (and dedup_method_compare pays it
# again). Production reads signatures from a persisted index.
def _simhash_bands_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sigs = (
        d.select("doc_id", F.expr(_TOKENS).alias("toks"))
        .select(
            "doc_id",
            F.expr("transform(array_distinct(toks), t -> md5(t))").alias(
                "hs"
            ),
        )
        .select("doc_id", F.expr(_SIMHASH64).alias("sig"))
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> "
                "struct(b AS band, element_at(sig, b + 1) AS bits))"
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.bits").alias("bits"),
    )


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "simhash_bands",
        lambda: _simhash_bands_build(spark, sf_dir).localCheckpoint(eager=True),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature (sign of the per-bit
    vote over distinct-token md5 bits), pairs with Hamming distance
    <= 3. Candidate generation is EXACT sub-quadratic banding: the
    signature is cut into 4 bands of 16 bits; by pigeonhole any pair
    with hamming <= 3 agrees on at least one whole band, so an
    equi-join per band finds every qualifying pair (then the exact
    hamming filter drops false candidates). Same result set as the
    full cross join — the oracle keeps the pairwise formulation — at
    join-not-quadratic cost. The band join key includes the band index
    so collisions never cross bands; 16-bit band keys keep the
    occupied-key count growing with the corpus (the 100 TB property —
    the old 4-bit bands had 16 possible keys and went quadratic).
    The banded signature front is the staged `_simhash_bands` frame
    (one signature computation per session, both join sides read the
    materialized checkpoint)."""
    bands = _simhash_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.expr(_HAMMING4.format(a="a.sig", b="b.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )


_DEDUP_SIMHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform(list_distinct({_TOKENS_DUCK}), t -> md5(t)) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {_SIMHASH64_DUCK} AS sig FROM hashed
)
SELECT doc1, doc2, hamming FROM (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         {_HAMMING4_DUCK.format(a="a.sig", b="b.sig")} AS hamming
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
WHERE hamming <= 3
"""


# ---------------------------------------------------------------------------
# txt_rolling_hash — polynomial char hash + winnowed n-gram fingerprint
# ---------------------------------------------------------------------------

_MOD = 1000000007
_BASE = 31


def txt_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling hashes: (1) a polynomial
    char hash h = fold((acc*31 + ascii(c)) mod 1e9+7) — exact int64
    arithmetic, order-sensitive, identical on both engines; (2) a
    winnowing-style fingerprint = min over token-5-gram md5 window
    hashes (the shape MOSS/winnowing uses; min-of-windows is
    shift-robust where the char hash is not). Docs with < 5 tokens
    fall back to the whole-text md5."""
    d = load_table(spark, sf_dir, "documents")
    chars = "filter(split(text, ''), c -> c != '')"
    poly = (
        f"aggregate(transform({chars}, c -> CAST(ascii(c) AS BIGINT)), 0L, "
        f"(acc, c) -> (acc * {_BASE} + c) % {_MOD})"
    )
    staged = d.select("doc_id", "text", F.expr(_TOKENS).alias("toks"))
    w5 = (
        "transform(sequence(0, size(toks) - 5), i -> "
        "md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))"
    )
    winnow = F.when(
        F.size(F.col("toks")) >= 5, F.expr(f"array_min({w5})")
    ).otherwise(F.md5("text"))
    return staged.select(
        "doc_id",
        F.expr(poly).alias("poly_hash"),
        winnow.alias("winnow_fp"),
    )


_TXT_ROLLING_HASH_SQL = f"""
WITH staged AS (
  SELECT doc_id, text, {_TOKENS_DUCK} AS toks FROM documents
)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(list_filter(string_split(text, ''), c -> c != ''),
                          c -> CAST(ascii(c) AS BIGINT))),
         (acc, c) -> (acc * {_BASE} + c) % {_MOD}) AS poly_hash,
       CASE WHEN len(toks) >= 5 THEN
         list_min(list_transform(range(1, len(toks) - 3),
           i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                    || toks[i+3] || ' ' || toks[i+4])))
       ELSE md5(text) END AS winnow_fp
FROM staged
"""


# ---------------------------------------------------------------------------
# txt_winnowing — full winnowing fingerprint selection (MOSS)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # winnowing window over consecutive 3-gram hashes


def txt_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full winnowing (Schleimer et al. 2003, the MOSS algorithm):
    positional token-3-gram hashes, then the minimum of every sliding
    window of {w} consecutive hashes, deduplicated — guaranteeing a
    shared fingerprint for any match of length >= w+k-1 tokens while
    storing only ~2/(w+1) of all hashes. The per-doc selection is a
    pure array computation (zero shuffle, scan speed at 100 TB); a
    matching service then inverts (fingerprint -> doc) with the same
    equi-join shape as the shingle dedup ops. Output is the compact
    per-doc summary with an order-insensitive mod-1e9+7 checksum over
    the selected prints — exact int64 on both engines. Docs with
    fewer than w windows keep the single global min; docs under 3
    tokens have no grams (zero fingerprints, NULL stats)."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.expr(_TOKENS).alias("toks"))
    # the >=3 guard sits INSIDE the hs expression: the column is
    # evaluated for every row, and sequence(0, -1) descends (edge
    # corpus rule) — an outer CASE on a separate column can't save it
    hs = (
        "CASE WHEN size(toks) >= 3 THEN "
        "transform(sequence(0, size(toks) - 3), i -> "
        "CAST(conv(substring(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])), "
        "1, 12), 16, 10) AS BIGINT)) "
        "ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    w = _WINNOW_W
    sel = (
        f"array_distinct(CASE "
        f"WHEN size(hs) = 0 THEN CAST(array() AS ARRAY<BIGINT>) "
        f"WHEN size(hs) < {w} THEN array(array_min(hs)) "
        f"ELSE transform(sequence(0, size(hs) - {w}), j -> "
        f"array_min(slice(hs, j + 1, {w}))) END)"
    )
    out = staged.withColumn("hs", F.expr(hs)).withColumn("sel", F.expr(sel))
    return out.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_grams"),
        F.size("sel").cast("long").alias("n_fps"),
        F.expr("array_min(sel)").alias("fp_min"),
        F.expr("array_max(sel)").alias("fp_max"),
        F.expr(
            "aggregate(sel, 0L, (acc, x) -> (acc + x) % 1000000007)"
        ).alias("fp_checksum"),
    )


_TXT_WINNOWING_SQL = f"""
WITH staged AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
), hashed AS (
  SELECT doc_id, len(toks) AS n_toks,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1), i ->
             CAST(('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' '
                                      || toks[i+2]), 1, 12)) AS BIGINT))
         ELSE [] END AS hs
  FROM staged
), selected AS (
  SELECT doc_id, n_toks, hs,
         list_distinct(CASE
           WHEN n_toks < 3 THEN []
           WHEN len(hs) < {_WINNOW_W} THEN [list_min(hs)]
           ELSE list_transform(range(1, len(hs) - {_WINNOW_W} + 2), j ->
                  list_min(hs[j : j + {_WINNOW_W} - 1]))
         END) AS sel
  FROM hashed
)
SELECT doc_id,
       CAST(len(hs) AS BIGINT) AS n_grams,
       CAST(len(sel) AS BIGINT) AS n_fps,
       CAST(list_min(sel) AS BIGINT) AS fp_min,
       CAST(list_max(sel) AS BIGINT) AS fp_max,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), sel),
                        (acc, x) -> (acc + x) % 1000000007) AS BIGINT)
         AS fp_checksum
FROM selected
"""


# ---------------------------------------------------------------------------
# txt_bpe_tokens — BPE-ish regex tokenization (GPT-2-style pattern)
# ---------------------------------------------------------------------------

# simplified GPT-2 pretokenizer: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, whitespace runs. Only
# constructs with identical Java-regex/RE2 semantics (no lookahead).
_BPE_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+| +"


def txt_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex — the unit a
    training-data pipeline budgets by. Emits total and distinct
    counts plus the first 5 tokens (pipe-joined) as a spot check."""
    d = load_table(spark, sf_dir, "documents")
    # pattern passed as a Column literal: it contains a single quote
    # (contraction branch), which would break SQL-string quoting.
    staged = d.select(
        "doc_id", F.regexp_extract_all("text", F.lit(_BPE_RE), 0).alias("bt")
    )
    return staged.select(
        "doc_id",
        F.size("bt").cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct("bt")).cast("long").alias("n_distinct_bpe"),
        F.array_join(F.slice("bt", 1, 5), "|").alias("head_tokens"),
    )


_TXT_BPE_TOKENS_SQL = f"""
WITH staged AS (
  SELECT doc_id, regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}') AS bt
  FROM documents
)
SELECT doc_id,
       CAST(len(bt) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(bt)) AS BIGINT) AS n_distinct_bpe,
       array_to_string(bt[1:5], '|') AS head_tokens
FROM staged
"""


# ---------------------------------------------------------------------------
# txt_tokenizer_fertility — tokenizer efficiency per language
# ---------------------------------------------------------------------------


def txt_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language — the tokenizer-efficiency
    audit every multilingual pretraining run reports: fertility =
    subword pieces per whitespace word (how many pieces the
    tokenizer shatters a word into; high-fertility languages pay
    more sequence length per sentence) and bytes per piece
    (compression of the byte stream into the model's unit). The
    subword unit here is the FIXED-STRIDE proxy ceil(len(word)/4) —
    a real tokenizer's piece count is model-weight-dependent, but
    the stride proxy has the same shape (monotone in word length,
    sums per corpus) and, unlike a pretokenizer regex on this
    punctuation-free fixture, actually varies by language. Exact
    integer ratios over corpus-level sums (ppm / milli), one
    document scan, language-grid output — the per-language token
    budget table that feeds sampling-temperature choices upstream of
    `samp_domain_mixture`."""
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang",
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("words"),
        F.expr(
            f"aggregate({_TOKENS}, 0L,"
            " (a, w) -> a + (length(w) + 3) div 4)"
        ).alias("pieces"),
        F.expr("CAST(octet_length(text) AS BIGINT)").alias("bytes"),
    )
    g = per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("pieces").cast("long").alias("subword_pieces"),
        F.sum("bytes").cast("long").alias("text_bytes"),
    )
    return g.select(
        "lang",
        "n_docs",
        "words",
        "subword_pieces",
        "text_bytes",
        F.expr(
            "CASE WHEN words = 0 THEN NULL"
            " ELSE (subword_pieces * 1000000) div words END"
        ).alias("fertility_ppm"),
        F.expr(
            "CASE WHEN subword_pieces = 0 THEN NULL"
            " ELSE (text_bytes * 1000) div subword_pieces END"
        ).alias("bytes_per_piece_milli"),
    ).orderBy("lang")


_TXT_TOKENIZER_FERTILITY_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(len({_TOKENS_DUCK}) AS BIGINT) AS words,
         CAST(list_sum(list_transform({_TOKENS_DUCK},
              w -> (length(w) + 3) // 4)) AS BIGINT) AS pieces,
         CAST(octet_length(encode(text)) AS BIGINT) AS bytes
  FROM documents
), g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(words) AS BIGINT) AS words,
         CAST(SUM(pieces) AS BIGINT) AS subword_pieces,
         CAST(SUM(bytes) AS BIGINT) AS text_bytes
  FROM per GROUP BY lang
)
SELECT lang, n_docs, words, subword_pieces, text_bytes,
       CASE WHEN words = 0 THEN NULL
            ELSE (subword_pieces * 1000000) // words END AS fertility_ppm,
       CASE WHEN subword_pieces = 0 THEN NULL
            ELSE (text_bytes * 1000) // subword_pieces END
         AS bytes_per_piece_milli
FROM g
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# txt_ngram_stats — corpus-level n-gram frequencies (top-k)
# ---------------------------------------------------------------------------

def txt_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top-25 by (count desc, bigram) —
    the vocabulary/merge-table statistic a BPE trainer computes.
    Explode bigrams → hash-aggregate → TakeOrderedAndProject; the
    shuffle carries (bigram, partial count) thanks to map-side
    combine."""
    d = load_table(spark, sf_dir, "documents")
    # guard size >= 2: Spark's sequence(0, -1) is DESCENDING, so an
    # unguarded 1-token doc would index past the array (ANSI error)
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2), "
            "i -> concat_ws(' ', toks[i], toks[i+1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = d.select(F.expr(_TOKENS).alias("toks")).select(
        F.explode(bigrams).alias("bigram")
    )
    return (
        staged.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


_TXT_NGRAM_STATS_SQL = f"""
WITH toks AS (
  SELECT {_TOKENS_DUCK} AS toks FROM documents
), bigrams AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM toks WHERE len(toks) >= 2
)
SELECT bigram, COUNT(*) AS n FROM bigrams
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 25
"""


# ---------------------------------------------------------------------------
# txt_rake_keywords — RAKE keyphrase extraction (corpus-level)
# ---------------------------------------------------------------------------

_RAKE_TOP = 15


# The RAKE phrase-membership front (doc_id, phrase_id, w, plen),
# staged per (application, dataset): the corpus posexplode + per-doc
# stopword-run window otherwise re-runs for each consumer (word
# stats, phrase scores).
def _rake_words_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("pos", "term")
    ).select(
        "doc_id",
        "pos",
        F.lower(F.col("term")).alias("w"),
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    marked = toks.withColumn(
        "phrase_id",
        F.sum(F.col("w").isin(*STOPWORDS).cast("int")).over(wdoc),
    ).where(~F.col("w").isin(*STOPWORDS))
    plen = marked.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    return marked.join(plen, ["doc_id", "phrase_id"])


def _rake_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "rake_words",
        lambda: _rake_words_build(spark, sf_dir).localCheckpoint(eager=True),
    )


def txt_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction) over the corpus —
    the unsupervised keyPHRASE extractor (multi-word, unlike
    txt_tfidf_topterms' single terms): token runs between stopwords
    are candidate phrases; each word scores degree/freq (degree = sum
    of the lengths of the phrases its occurrences sit in — words that
    live in long collocations outrank words that appear alone), and a
    phrase scores the sum of its member words. Top-15 corpus-wide.

    All-integer scoring: word_score = (degree * 10000) div freq,
    phrase score = sum of member scores — associative int64, no float
    tie ambiguity. Plan shape: posexplode + ONE per-doc window
    assigns phrase ids (partitioned by doc — perfectly parallel),
    the word-stat table is vocabulary-sized, and identical phrases
    merge in a final hash aggregate before a top-k
    TakeOrderedAndProject. No window ever spans more than one
    document, so the shape holds at any corpus size. The phrase-
    membership front is staged per (app, dataset) — see
    ``_rake_words``: unstaged, the word-stat and phrase-score
    consumers each re-ran the corpus posexplode + per-doc window."""
    words = _rake_words(spark, sf_dir)
    wstats = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("degree")
    )
    wscore = wstats.select(
        "w", F.expr("(degree * 10000) div freq").alias("wscore")
    )
    phrases = (
        words.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("wscore").alias("score"),
        )
    )
    top = (
        phrases.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score").alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(_RAKE_TOP)
    )
    return top


_TXT_RAKE_KEYWORDS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(range(0, len(t))) AS pos,
         lower(unnest(t)) AS w
  FROM (SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents)
), marked AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN w IN {_STOP_SQL} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS phrase_id
  FROM toks
), words0 AS (
  SELECT * FROM marked WHERE w NOT IN {_STOP_SQL}
), plen AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
  FROM words0 GROUP BY doc_id, phrase_id
), words AS (
  SELECT w0.*, p.plen FROM words0 w0 JOIN plen p USING (doc_id, phrase_id)
), wscore AS (
  SELECT w, (SUM(plen) * 10000) // COUNT(*) AS wscore
  FROM words GROUP BY w
), phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(wd.w, ' ' ORDER BY wd.pos) AS phrase,
         CAST(SUM(ws.wscore) AS BIGINT) AS score
  FROM words wd JOIN wscore ws USING (w)
  GROUP BY doc_id, phrase_id
)
SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(MAX(score) AS BIGINT) AS rake_score
FROM phrases GROUP BY phrase
ORDER BY rake_score DESC, phrase
LIMIT {_RAKE_TOP}
"""


# ---------------------------------------------------------------------------
# txt_pmi_pairs — collocation mining by document-level lift
# ---------------------------------------------------------------------------

_PMI_WIN = 8  # tokens per co-occurrence window
_PMI_MIN_DF, _PMI_MAX_DF_PCT, _PMI_MIN_COOC, _PMI_TOP = 5, 60, 5, 50
# container packing: window index rides in the low decimal digits of
# the doc id; 1e5 windows = 800k tokens per doc before collision
_PMI_CID = 100000

# The distinct (window, token) co-occurrence front, staged per
# (application, dataset): txt_pmi_pairs consumes it four times
# (window count, token document frequencies, and both sides of the
# in-window pair self-join) — unstaged, each consumer re-ran the
# corpus posexplode + distinct.
def _pmi_windows_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select(
        "doc_id", F.posexplode(F.expr(_TOKENS)).alias("pos", "tok")
    )
    return words.select(
        F.expr(f"doc_id * {_PMI_CID} + pos div {_PMI_WIN}").alias("cid"),
        "tok",
    ).distinct()


def _pmi_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "pmi_windows",
        lambda: _pmi_windows_build(spark, sf_dir).localCheckpoint(eager=True),
    )


def txt_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION MINING: token pairs that co-occur inside 8-token
    WINDOWS far more than independence predicts, ranked by LIFT —
    rank-identical to PMI (lift = exp(PMI) for fixed marginals) but a
    pure RATIONAL, so the whole pipeline stays exact int64 ppm. The
    window (not the document) is the co-occurrence container because
    collocations are a local phenomenon — and because it is what
    keeps the shape scale-sane: the per-container pair join is
    bounded by 8² regardless of document length. The frequency BAND
    (df >= 5, df <= 60% of windows) drops no-evidence and stop-like
    tokens BEFORE pairing; top-50 with a full deterministic tiebreak.
    The same shape mines entity co-mentions at 100 TB — band, pair
    within container, lift. The distinct (window, token) front is
    staged per (app, dataset) — see ``_pmi_windows``: unstaged, its
    four consumers (window count, token dfs, both pair-join sides)
    each re-ran the corpus explode + distinct."""
    dt = _pmi_windows(spark, sf_dir)
    nwin = dt.select("cid").distinct().agg(
        F.count(F.lit(1)).alias("n_win")
    )
    df_counts = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    banded = (
        df_counts.crossJoin(F.broadcast(nwin))
        .where(
            (F.col("df") >= _PMI_MIN_DF)
            & (F.col("df") * 100 <= F.col("n_win") * _PMI_MAX_DF_PCT)
        )
        .select("tok", "df")
    )
    dtb = dt.join(F.broadcast(banded), "tok")
    a = dtb.select(F.col("cid").alias("ca"), F.col("tok").alias("w1"))
    b = dtb.select(F.col("cid").alias("cb"), F.col("tok").alias("w2"))
    cooc = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("w1") < F.col("w2")))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .where(F.col("n_xy") >= _PMI_MIN_COOC)
    )
    m1 = banded.select(F.col("tok").alias("w1"), F.col("df").alias("n_x"))
    m2 = banded.select(F.col("tok").alias("w2"), F.col("df").alias("n_y"))
    return (
        cooc.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(nwin))
        .select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            "n_y",
            F.expr("(n_xy * n_win * 1000000) div (n_x * n_y)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(F.desc("lift_ppm"), "w1", "w2")
        .limit(_PMI_TOP)
    )


_TXT_PMI_PAIRS_SQL = f"""
WITH toksrc AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
), words AS (
  SELECT doc_id,
         unnest(range(1, len(toks) + 1)) AS pos,
         unnest(toks) AS tok
  FROM toksrc
), dt AS (
  SELECT DISTINCT doc_id * {_PMI_CID} + (pos - 1) // {_PMI_WIN} AS cid,
         tok
  FROM words
), nw AS (
  SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_win FROM dt
), dfc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok
), banded AS (
  SELECT tok, df FROM dfc, nw
  WHERE df >= {_PMI_MIN_DF} AND df * 100 <= n_win * {_PMI_MAX_DF_PCT}
), dtb AS (
  SELECT dt.cid, dt.tok FROM dt JOIN banded USING (tok)
), cooc AS (
  SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS n_xy
  FROM dtb a JOIN dtb b ON a.cid = b.cid AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_COOC}
)
SELECT c.w1, c.w2, c.n_xy, m1.df AS n_x, m2.df AS n_y,
       (c.n_xy * nw.n_win * 1000000) // (m1.df * m2.df) AS lift_ppm
FROM cooc c
JOIN banded m1 ON m1.tok = c.w1
JOIN banded m2 ON m2.tok = c.w2
CROSS JOIN nw
ORDER BY lift_ppm DESC, c.w1, c.w2
LIMIT {_PMI_TOP}
"""


# ---------------------------------------------------------------------------
# dedup_method_compare — cross-method dedup yield report
# ---------------------------------------------------------------------------

def dedup_method_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP METHOD COMPARISON: the candidate-pair sets of the three
    production detectors — exact digest, MinHash-LSH (est Jaccard >=
    0.5), and SimHash (hamming <= 3) — partitioned by MEMBERSHIP
    COMBINATION, with one count per non-empty combination. This is
    the calibration report a dedup rollout runs before picking
    thresholds: exact-only mass means near-dup recall gaps, simhash-
    only mass means its radius is too loose, three-way agreement is
    the safe-to-delete core. Pairs canonicalize as (least, greatest);
    the three sets union with one-hot flags and ONE grouped max
    resolves membership — no pairwise joins between methods. Output
    is at most 7 rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    a = d.select(F.col("doc_id").alias("x"), "h")
    b = d.select(F.col("doc_id").alias("y"), F.col("h").alias("h2"))
    exact = (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("x") < F.col("y")))
        .select(
            F.col("x").alias("doc1"),
            F.col("y").alias("doc2"),
        )
    )
    mh = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("est_jaccard") >= 0.5
    )
    sh = dedup_simhash(spark, sf_dir)

    def canon(df: DataFrame, fa: int, fb: int, fc: int) -> DataFrame:
        return df.select(
            F.least("doc1", "doc2").alias("a"),
            F.greatest("doc1", "doc2").alias("b"),
            F.lit(fa).alias("f_exact"),
            F.lit(fb).alias("f_minhash"),
            F.lit(fc).alias("f_simhash"),
        )

    tagged = (
        canon(exact, 1, 0, 0)
        .unionByName(canon(mh, 0, 1, 0))
        .unionByName(canon(sh, 0, 0, 1))
    )
    membership = tagged.groupBy("a", "b").agg(
        F.max("f_exact").alias("in_exact"),
        F.max("f_minhash").alias("in_minhash"),
        F.max("f_simhash").alias("in_simhash"),
    )
    return membership.groupBy(
        "in_exact", "in_minhash", "in_simhash"
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def _dedup_method_compare_sql() -> str:
    return f"""
WITH exact AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2
  FROM (SELECT doc_id, md5(text) AS h FROM documents) a
  JOIN (SELECT doc_id, md5(text) AS h FROM documents) b
    ON a.h = b.h AND a.doc_id < b.doc_id
), mh AS (
  SELECT doc1, doc2 FROM ({_DEDUP_MINHASH_LSH_SQL})
  WHERE est_jaccard >= 0.5
), sh AS (
  SELECT doc1, doc2 FROM ({_DEDUP_SIMHASH_SQL})
), tagged AS (
  SELECT LEAST(doc1, doc2) AS a, GREATEST(doc1, doc2) AS b,
         1 AS f_exact, 0 AS f_minhash, 0 AS f_simhash FROM exact
  UNION ALL
  SELECT LEAST(doc1, doc2), GREATEST(doc1, doc2), 0, 1, 0 FROM mh
  UNION ALL
  SELECT LEAST(doc1, doc2), GREATEST(doc1, doc2), 0, 0, 1 FROM sh
), membership AS (
  SELECT a, b,
         CAST(MAX(f_exact) AS INT) AS in_exact,
         CAST(MAX(f_minhash) AS INT) AS in_minhash,
         CAST(MAX(f_simhash) AS INT) AS in_simhash
  FROM tagged GROUP BY a, b
)
SELECT in_exact, in_minhash, in_simhash,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM membership GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# txt_novelty_share — first-occurrence n-gram novelty
# ---------------------------------------------------------------------------

def txt_novelty_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOVELTY SHARE per document: the fraction (exact ppm) of its
    distinct trigram shingles whose FIRST corpus occurrence (lowest
    doc_id — the ingest-order convention) is this document — the
    marginal-contribution signal dedup-aware curation ranks by (a
    doc that introduces nothing new is a deletion candidate even
    when no single pair crosses the near-dup threshold). Reuses the
    48-bit hashed shingle front shared by the dedup family; one
    grouped MIN over (shingle) and one join back — shuffles carry
    int64 shingle hashes only. Docs with fewer than 3 tokens have no
    shingles and are excluded in both twins."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = (
        d.select("doc_id", F.expr(_TOKENS).alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.expr(_SH_HASH)).alias("sh"))
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.expr("CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(n_novel * 1000000) div n_shingles").alias(
                "novelty_ppm"
            ),
        )
    )


_TXT_NOVELTY_SHARE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
  WHERE len({_TOKENS_DUCK}) >= 3
), sh AS (
  SELECT doc_id, unnest({_SH_HASH_DUCK}) AS sh FROM toks
), first AS (
  SELECT sh, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY sh
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       (CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) * 1000000) // COUNT(*) AS novelty_ppm
FROM sh s JOIN first f ON s.sh = f.sh
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# txt_extractive_summary — corpus-TF extractive summarization
# ---------------------------------------------------------------------------

_SUM_MARK = "\x01"
_SUM_TOP = 2


def txt_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACTIVE SUMMARIZATION: each document keeps its _SUM_TOP
    most salient sentences, where salience is the integer mean
    corpus-TF of the sentence's tokens — the TextRank-lite shape of
    cheap summarization for preview generation and context-window
    budgeting. Sentence boundaries use the chunker's replace-then-
    split idiom (RE2 has no lookbehind); salience joins the sentence
    tokens against ONE corpus-level TF aggregate (partial-
    aggregable; the shuffle carries distinct tokens), and the top-2
    pick is a per-doc window rank with (score desc, position asc)
    determinism — earlier sentences win ties, the editorial
    convention. Exact int64 end to end."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents_expr = (
        f"split(replace(text, '. ', concat('.', '{_SUM_MARK}')), "
        f"'{_SUM_MARK}')"
    )
    sents = d.select(
        "doc_id", F.posexplode(F.expr(sents_expr)).alias("sent_idx", "sentence")
    ).where(F.length("sentence") > 0)
    stoks = sents.select(
        "doc_id",
        "sent_idx",
        F.explode(
            F.expr(r"regexp_extract_all(sentence, '\\S+', 0)")
        ).alias("tok"),
    )
    tf = (
        d.select(F.explode(F.expr(_TOKENS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        stoks.join(tf, "tok")
        .groupBy("doc_id", "sent_idx")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.expr("sum(tf) div count(1)").alias("salience"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("salience"), F.asc("sent_idx")
    )
    picked = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _SUM_TOP)
    )
    return picked.join(sents, ["doc_id", "sent_idx"]).select(
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "sent_idx",
        "salience",
        "sentence",
    )


_TXT_EXTRACTIVE_SUMMARY_SQL = f"""
WITH sents0 AS (
  SELECT doc_id,
         unnest(string_split(replace(text, '. ', '.' || chr(1)), chr(1)))
           AS sentence,
         generate_subscripts(
           string_split(replace(text, '. ', '.' || chr(1)), chr(1)), 1) - 1
           AS sent_idx
  FROM documents
), sents AS (
  SELECT * FROM sents0 WHERE length(sentence) > 0
), stoks AS (
  SELECT doc_id, sent_idx,
         unnest(regexp_extract_all(sentence, '\\S+')) AS tok
  FROM sents
), tf AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM (
    SELECT unnest({_TOKENS_DUCK}) AS tok FROM documents
  ) GROUP BY tok
), scored AS (
  SELECT s.doc_id, s.sent_idx, CAST(COUNT(*) AS BIGINT) AS n_toks,
         CAST(SUM(t.tf) // COUNT(*) AS BIGINT) AS salience
  FROM stoks s JOIN tf t ON s.tok = t.tok
  GROUP BY s.doc_id, s.sent_idx
), picked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY salience DESC, sent_idx) AS rank
  FROM scored
)
SELECT p.doc_id, CAST(p.rank AS BIGINT) AS rank, p.sent_idx, p.salience,
       s.sentence
FROM picked p JOIN sents s
  ON p.doc_id = s.doc_id AND p.sent_idx = s.sent_idx
WHERE p.rank <= {_SUM_TOP}
"""


# ---------------------------------------------------------------------------
# txt_code_detect — code-vs-prose heuristic classifier
# ---------------------------------------------------------------------------

_CODE_THRESHOLD_PPM = 120_000


def txt_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection per document — the pretraining router
    that decides which pipeline a crawl shard enters (code corpora
    and prose corpora want different dedup, quality, and tokenizer
    settings). Three zero-shuffle integer signals per doc: symbol
    density (non-alphanumeric-non-space chars), digit density, and
    bracket/operator hits ({}();=<>), each in exact ppm of the char
    count, combined into a truncated-mean score with a fixed
    threshold. Pure projection — fuses into whole-stage codegen; at
    100 TB this is a free rider on any scan that already reads
    text."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = "length(text)"
    sym = r"length(regexp_replace(text, '[A-Za-z0-9 ]', ''))"
    dig = r"length(regexp_replace(text, '[^0-9]', ''))"
    brk = r"length(regexp_replace(text, '[^{}();=<>]', ''))"
    return d.where(F.expr(f"{n} > 0")).select(
        "doc_id",
        F.expr(f"CAST({n} AS BIGINT)").alias("n_chars"),
        F.expr(f"(CAST({sym} AS BIGINT) * 1000000) div {n}").alias(
            "symbol_ppm"
        ),
        F.expr(f"(CAST({dig} AS BIGINT) * 1000000) div {n}").alias(
            "digit_ppm"
        ),
        F.expr(f"(CAST({brk} AS BIGINT) * 1000000) div {n}").alias(
            "bracket_ppm"
        ),
        F.expr(
            f"((CAST({sym} AS BIGINT) * 1000000) div {n}"
            f" + (CAST({dig} AS BIGINT) * 1000000) div {n}"
            f" + (CAST({brk} AS BIGINT) * 1000000) div {n}) div 3"
        ).alias("code_score_ppm"),
    ).withColumn(
        "is_code", F.expr(f"code_score_ppm > {_CODE_THRESHOLD_PPM}")
    )


_TXT_CODE_DETECT_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       (CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
             AS BIGINT) * 1000000) // length(text) AS symbol_ppm,
       (CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
             AS BIGINT) * 1000000) // length(text) AS digit_ppm,
       (CAST(length(regexp_replace(text, '[^{{}}();=<>]', '', 'g'))
             AS BIGINT) * 1000000) // length(text) AS bracket_ppm,
       ((CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
              AS BIGINT) * 1000000) // length(text)
        + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS BIGINT) * 1000000) // length(text)
        + (CAST(length(regexp_replace(text, '[^{{}}();=<>]', '', 'g'))
                AS BIGINT) * 1000000) // length(text)) // 3
         AS code_score_ppm,
       ((CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
              AS BIGINT) * 1000000) // length(text)
        + (CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                AS BIGINT) * 1000000) // length(text)
        + (CAST(length(regexp_replace(text, '[^{{}}();=<>]', '', 'g'))
                AS BIGINT) * 1000000) // length(text)) // 3
         > {_CODE_THRESHOLD_PPM} AS is_code
FROM documents
WHERE length(text) > 0
"""


# ---------------------------------------------------------------------------
# txt_bigram_prob — bigram language-model fluency score per doc
# ---------------------------------------------------------------------------

def txt_bigram_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-LM fluency score per document: train corpus bigram
    conditional probabilities, then score each document by the MEAN
    probability of its own bigrams — the cheap perplexity stand-in
    that separates fluent text from shuffled/garbled tokens (the
    quality gate a pretraining pipeline runs after langid). Exact
    integer arithmetic: p(w2|w1) = c(w1 w2)·1e6 div c(w1·) in ppm,
    doc score = sum div count (truncating). One bigram explode, two
    corpus-count aggregates (both partial-combinable), one equi-join
    of occurrences to counts on the bigram key. Docs with < 2 tokens
    are out of domain and excluded in both twins."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # bigram-vocab slate consumed by the unigram rollup AND the prob
    # join — the lazy form re-ran the corpus explode+count per
    # reference. The occurrence frame (bg) stays lazy: train+apply
    # is genuinely two passes over it.
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=True)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = c2.join(c1, "w1").select(
        "w1", "w2", F.expr("(c2 * 1000000) div c1").alias("p_ppm")
    )
    return (
        bg.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(p_ppm) div count(1)").alias("mean_prob_ppm"),
        )
    )


_TXT_BIGRAM_PROB_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
  WHERE len({_TOKENS_DUCK}) >= 2
), bg AS (
  SELECT doc_id,
         unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM toks
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), probs AS (
  SELECT c2.w1, c2.w2, (c2.c2 * 1000000) // c1.c1 AS p_ppm
  FROM c2 JOIN c1 ON c2.w1 = c1.w1
)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(p.p_ppm) // COUNT(*) AS BIGINT) AS mean_prob_ppm
FROM bg JOIN probs p ON bg.w1 = p.w1 AND bg.w2 = p.w2
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# txt_doc_perplexity — exact log-space cross-entropy quality filter
# ---------------------------------------------------------------------------

# floor(log2(m/64) * 1e6) for the 64 mantissa steps m = 64..127 —
# precomputed in PYTHON and shared as the same literal table by both
# engines (the ml_ndcg_at_k discipline: never call libm log/log2
# inside a hash-compared query, it is not correctly-rounded).
_LOG2U_TABLE = [
    __import__("math").floor(__import__("math").log2(m / 64) * 1_000_000)
    for m in range(64, 128)
]
_LOG2U_SPARK = "array(" + ", ".join(f"{v}L" for v in _LOG2U_TABLE) + ")"
_LOG2U_DUCK = (
    "[" + ", ".join(f"CAST({v} AS BIGINT)" for v in _LOG2U_TABLE) + "]"
)


def txt_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT CROSS-ENTROPY under the corpus bigram LM — the
    CCNet-style perplexity quality filter (keep docs whose text the
    reference LM finds predictable; garbled/boilerplate text scores
    high): H(doc) = mean over its bigrams of -log2 p(w2|w1), in exact
    integer MICRO-BITS. `txt_bigram_prob` scores mean PROBABILITY
    (dominated by the few most-frequent bigrams); cross-entropy is
    the log-space version every production filter actually uses — and
    logs are libm territory, so the entry computes them EXACTLY:
    p_scaled = max((c2 << 20) div c1, 1) in [1, 2^20], then
    log2(p_scaled) decomposes as exponent + mantissa — the exponent
    is length(bin(p_scaled)) - 1 (a string op, identical in both
    engines), the mantissa m = (p_scaled * 64) div 2^e lands in
    [64, 127] and looks up a 64-entry Python-precomputed
    floor-micro-log2 table shared literally by both engines. Bits
    per bigram = 20e6 - log2u (the max(...,1) floor acts as the
    standard LM smoothing floor at ~20 bits). Scale shape: identical
    to `txt_bigram_prob` — one bigram explode, two partial-
    aggregable count aggregates (the LM table is vocab²-bounded),
    one equi-join of occurrences to the LM on the bigram key; the
    log decomposition is pure map-side expression work."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    # same bigram-vocab slate shape as txt_bigram_prob — checkpoint
    # the LM count table so the two consumers (unigram rollup, LM
    # join) don't re-run the corpus explode+count.
    c2 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint(eager=True)
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    ps = "greatest((c2 * 1048576) div c1, CAST(1 AS BIGINT))"
    e = f"CAST(length(bin({ps})) - 1 AS BIGINT)"
    m = f"(({ps}) * 64) div shiftleft(CAST(1 AS BIGINT), {e})"
    lm = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.expr(
            f"20000000 - ({e} * 1000000"
            f" + element_at({_LOG2U_SPARK}, CAST({m} - 63 AS INT)))"
        ).alias("bits_ub"),
    )
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(bits_ub) div count(1)").alias("xent_microbits"),
        )
    )


def _txt_doc_perplexity_sql() -> str:
    ps = "greatest((c2.c2 * 1048576) // c1.c1, CAST(1 AS BIGINT))"
    e = f"CAST(length(bin({ps})) - 1 AS BIGINT)"
    m = f"(({ps}) * 64) // (CAST(1 AS BIGINT) << ({e}))"
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
  WHERE len({_TOKENS_DUCK}) >= 2
), bg AS (
  SELECT doc_id,
         unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM toks
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
), lm AS (
  SELECT c2.w1, c2.w2,
         20000000 - ({e} * 1000000
           + {_LOG2U_DUCK}[CAST({m} - 63 AS INT)]) AS bits_ub
  FROM c2 JOIN c1 ON c2.w1 = c1.w1
)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(lm.bits_ub) // COUNT(*) AS BIGINT) AS xent_microbits
FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# txt_hapax_stats — vocabulary profile per source
# ---------------------------------------------------------------------------

_VOCAB_LADDER = (1, 2, 4, 8, 16, 32, 64, 128)


def txt_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE — what share of all token
    OCCURRENCES the top-k most frequent types cover, at
    power-of-two k rungs: the tokenizer/vocab-sizing table ('how
    big a vocab before OOV mass is negligible'). The occurrence
    stream compresses to per-type counts first (one
    partial-aggregable shuffle); ranking and the running coverage
    sum are a window over the DISTINCT-type table — vocab-sized,
    orders of magnitude below corpus-sized — with ties broken by
    token text so the curve is deterministic. Output keeps the
    boundary token at each rung so the curve is auditable. Exact
    int64 ppm; rungs beyond the vocabulary are absent rather than
    padded."""
    d = load_table(spark, sf_dir, "documents").select("text")
    tok = d.select(F.explode(F.expr(_TOKENS)).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w_rank = W.partitionBy().orderBy(F.desc("cnt"), F.asc("token"))
    w_run = w_rank.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    ranked = counts.select(
        "token",
        "cnt",
        F.row_number().over(w_rank).cast("long").alias("k"),
        F.sum("cnt").over(w_run).alias("cum_cnt"),
        F.sum("cnt").over(w_all).alias("total_cnt"),
        F.count(F.lit(1)).over(w_all).alias("vocab_size"),
    )
    return ranked.where(
        F.col("k").isin(*[F.lit(k) for k in _VOCAB_LADDER])
    ).select(
        "k",
        F.col("token").alias("boundary_token"),
        "cnt",
        "cum_cnt",
        F.expr("(cum_cnt * 1000000) div total_cnt").alias("coverage_ppm"),
        "vocab_size",
        F.col("total_cnt").alias("total_tokens"),
    )


_TXT_VOCAB_COVERAGE_SQL = f"""
WITH counts AS (
  SELECT t.token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({_TOKENS_DUCK}) AS token FROM documents) t
  GROUP BY t.token
), ranked AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS k,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cnt,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total_cnt,
         CAST(COUNT(*) OVER () AS BIGINT) AS vocab_size
  FROM counts
)
SELECT k, token AS boundary_token, cnt, cum_cnt,
       CAST((cum_cnt * 1000000) // total_cnt AS BIGINT) AS coverage_ppm,
       vocab_size, total_cnt AS total_tokens
FROM ranked
WHERE k IN ({", ".join(str(k) for k in _VOCAB_LADDER)})
"""


def txt_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY profile per document source: token count, vocabulary
    size, HAPAX LEGOMENA count (tokens seen exactly once — the
    long-tail mass that dominates open-vocab corpora), type-token
    ratio and hapax share in exact integer ppm. The lexical-richness
    gate of corpus curation (templated/spammy sources have collapsed
    TTR; OCR noise inflates hapax share). Two stacked hash aggregates
    — (source, token) counts, then per source — both partial-
    aggregable; the shuffle carries one row per distinct (source,
    token), never per token occurrence. Exact at any scale."""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = d.select("source", F.explode(F.expr(_TOKENS)).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    docs = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        st.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("hapax"),
        )
        .join(docs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "vocab",
            "hapax",
            F.expr("(vocab * 1000000) div n_tokens").alias("ttr_ppm"),
            F.expr("(hapax * 1000000) div vocab").alias("hapax_ppm"),
        )
    )


_TXT_HAPAX_STATS_SQL = f"""
WITH tok AS (
  SELECT source, unnest({_TOKENS_DUCK}) AS token FROM documents
), st AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY source, token
), agg AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM st GROUP BY source
), docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT a.source, d.n_docs, a.n_tokens, a.vocab, a.hapax,
       (a.vocab * 1000000) // a.n_tokens AS ttr_ppm,
       (a.hapax * 1000000) // a.vocab AS hapax_ppm
FROM agg a JOIN docs d ON a.source = d.source
"""


# ---------------------------------------------------------------------------
# sketch_freq_heavy — Misra-Gries heavy hitters with exact re-count
# ---------------------------------------------------------------------------

# _MG_COUNTERS bounds per-partition sketch state; _HH_K defines "heavy"
# (global frequency > N/_HH_K). The superset guarantee needs
# _MG_COUNTERS + 1 >= _HH_K: if a token's global share exceeds 1/K, a
# weighted-average argument puts its share above 1/K in at least one
# partition, and Misra-Gries with C counters keeps every token whose
# partition count exceeds N_p/(C+1). 256 >> 50 leaves slack.
_MG_COUNTERS, _HH_K = 256, 50


def sketch_freq_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level HEAVY HITTERS (tokens with frequency > N/50) via
    the production two-phase shape: a bounded-memory MISRA-GRIES
    sketch per partition prunes the candidate set map-side (256
    counters of state, no matter how many distinct tokens stream by),
    then ONE exact count over the pruned candidates confirms — so the
    full-token shuffle never happens. The MG merge-trim (combine,
    subtract the (C+1)-th largest, drop non-positives) preserves the
    classical undercount bound, and C+1 >= K makes the candidate set
    a guaranteed SUPERSET of the true heavy hitters — the exact
    re-count then makes the final answer EXACTLY the frequency-
    threshold set, which is what the plain-SQL oracle computes. At
    100 TB the candidate broadcast is tiny (<= partitions x 256
    tokens) and the confirm pass is a semi-join + count on a
    thinned stream. (Reference rolls frequency tables imperatively —
    e.g. pipeline counting loops; this is the bounded-state analogue.)
    """
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select(F.explode(F.expr(_TOKENS)).alias("token"))

    def mg_partition(batches):
        counter: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counter[tok] = counter.get(tok, 0) + int(c)
            if len(counter) > _MG_COUNTERS:
                cut = sorted(counter.values(), reverse=True)[_MG_COUNTERS]
                counter = {
                    t: c - cut for t, c in counter.items() if c > cut
                }
        yield pd.DataFrame({"token": list(counter.keys())})

    candidates = (
        words.mapInPandas(mg_partition, "token string").distinct()
    )
    total = words.agg(F.count(F.lit(1)).alias("n_total"))
    confirmed = (
        words.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .where(F.expr(f"freq * {_HH_K} > n_total"))
    )
    return confirmed.select("token", "freq", "n_total")


_SKETCH_FREQ_HEAVY_SQL = f"""
WITH words AS (
  SELECT unnest({_TOKENS_DUCK}) AS token FROM documents
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM words
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS freq, MAX(t.n_total) AS n_total
FROM words, tot t
GROUP BY token
HAVING CAST(COUNT(*) AS BIGINT) * {_HH_K} > MAX(t.n_total)
"""


# ---------------------------------------------------------------------------
# txt_readability — integer Flesch-Kincaid-style grade per language
# ---------------------------------------------------------------------------


def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY profiling — the classic Flesch-Kincaid grade as a
    per-language corpus report, a standard quality gate alongside
    ``txt_quality_score`` (reference behavior class: corpus quality
    scoring, /root/reference/pipeline/step3_attempt1.py's per-page
    content filters). Words / sentences / syllable-proxy (vowel
    groups) are regexp counts evaluated IN the scan task (one pass,
    no UDF — Java regex and RE2 agree on these character-class
    patterns); the rollup is one partial-aggregable groupBy. The
    grade is exact fixed-point centi-units
    (39·W//S + 1180·V//W − 1559): truncating integer division on
    identical integers is engine-identical, so the driver hash-checks
    it. Zero-word languages (CJK has no latin words) emit NULL grade
    via the guards instead of a division error under ANSI mode."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.expr("regexp_extract_all(text, '[A-Za-z]+', 0)"))
    sents = F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)"))
    vgrps = F.size(F.expr("regexp_extract_all(text, '[aeiouAEIOU]+', 0)"))
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(words.cast("long")).alias("total_words"),
        F.sum(F.greatest(sents, F.lit(1)).cast("long")).alias("total_sentences"),
        F.sum(vgrps.cast("long")).alias("total_vowel_groups"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_words",
        "total_sentences",
        "total_vowel_groups",
        F.expr(
            "CASE WHEN total_words > 0 THEN"
            " (39 * total_words) div total_sentences"
            " + (1180 * total_vowel_groups) div total_words - 1559 END"
        ).alias("fk_grade_centi"),
    )


_TXT_READABILITY_SQL = r"""
WITH per_doc AS (
  SELECT lang,
         len(regexp_extract_all(text, '[A-Za-z]+')) AS words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
         len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS vgrps
  FROM documents
), agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(words) AS BIGINT) AS total_words,
         CAST(SUM(sents) AS BIGINT) AS total_sentences,
         CAST(SUM(vgrps) AS BIGINT) AS total_vowel_groups
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, total_words, total_sentences, total_vowel_groups,
       CASE WHEN total_words > 0 THEN
         CAST((39 * total_words) // total_sentences
              + (1180 * total_vowel_groups) // total_words - 1559
              AS BIGINT) END AS fk_grade_centi
FROM agg
"""


# ---------------------------------------------------------------------------
# ml_feature_hashing — hashing-trick featurization of the token stream
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64
# Engine-identical string hash: md5 hex prefix → int64 (the
# samp_stratified_hash discipline, applied to the token itself).
_FH_HASH = "CAST(conv(substring(md5(token), 1, 12), 16, 10) AS BIGINT)"
_FH_HASH_DUCK = "CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT)"


def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHING-TRICK featurization — the fixed-width sparse encoding
    (Weinberger et al.) every large-scale text model's preprocessing
    uses when the vocabulary won't fit a dictionary: bucket =
    hash(token) mod 64, no vocab build, no second pass. The hash is
    the engine-portable md5-prefix int (deterministic, re-partition
    stable); the report is the per-bucket load profile (total hits,
    distinct tokens, docs touched) — exactly what you inspect to size
    the width and spot hot buckets before training. One explode + one
    partial-aggregable groupBy on a 64-value key; at 100 TB the
    shuffle carries 64 rows per partition after map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("token")
    )
    return (
        toks.withColumn("bucket", F.expr(_FH_HASH) % _FH_BUCKETS)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("token").alias("n_distinct_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


_ML_FEATURE_HASHING_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS token FROM documents
)
SELECT {_FH_HASH_DUCK} % {_FH_BUCKETS} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_tokens,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# ml_chi2_feature_select — chi-square token/class association ranking
# ---------------------------------------------------------------------------

_CHI2_TOP_K = 5


def ml_chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE FEATURE SELECTION — the top-5 most
    class-discriminative tokens per language by the χ² statistic of
    the 2×2 (token-presence × class) contingency table (sklearn
    `chi2`/`SelectKBest` shape): the classic pre-training vocabulary
    pruning step. Exact integer discipline: all four cells A/B/C/D
    are doc counts from inclusion-exclusion on three partial-
    aggregable count surfaces (per-(class,token) doc presence,
    per-token totals, per-class totals — NEVER a docs×vocab dense
    grid), and χ²·1000 = 1000·N·(AD−BC)² / (t·(N−t)·c·(N−c)) forms
    in DECIMAL(38,0)/HUGEINT — numerator and denominator are exact,
    the quotient is non-negative so trunc==floor, and it fits int64
    because χ² ≤ N. (The N⁵-sized intermediate bounds exact operation
    to N < ~10⁷ docs per decimal(38) — beyond that, divide each
    factor through by N first; the ranking is scale-invariant.)
    Ranking ties break on the token string, pinned identically in
    both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    dt = d.select(
        "doc_id", "lang", F.explode(F.expr(_TOKENS)).alias("token")
    ).distinct()
    # ONE pass over the exploded-token frame and ONE over documents:
    # the per-(lang, token) presence counts are checkpointed (vocab x
    # langs — a small slate) and the per-token totals derive from
    # them (each doc has exactly one lang, so countDistinct(doc_id)
    # per token = the lang-sum of a_docs); n_tot likewise derives
    # from the per-class totals (which must come from the raw docs —
    # zero-token docs count toward classes but have no token rows).
    # The lazy form re-planned the docs scan + explode + distinct
    # four times.
    a = (
        dt.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("a_docs"))
        .localCheckpoint(eager=True)
    )
    t_tot = a.groupBy("token").agg(F.sum("a_docs").alias("t_tot"))
    c_tot = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c_tot"))
        .localCheckpoint(eager=True)
    )
    n_tot = c_tot.agg(F.sum("c_tot").alias("n_tot"))
    full = (
        a.join(t_tot, "token")
        .join(F.broadcast(c_tot), "lang")
        .crossJoin(F.broadcast(n_tot))
    )
    chi2 = full.select(
        "lang",
        "token",
        "a_docs",
        F.expr(
            "CASE WHEN t_tot < n_tot AND c_tot < n_tot THEN"
            " CAST((1000 * CAST(n_tot AS DECIMAL(38,0))"
            "  * (CAST(a_docs AS DECIMAL(38,0)) * (n_tot - t_tot - c_tot + a_docs)"
            "     - CAST(t_tot - a_docs AS DECIMAL(38,0)) * (c_tot - a_docs))"
            "  * (CAST(a_docs AS DECIMAL(38,0)) * (n_tot - t_tot - c_tot + a_docs)"
            "     - CAST(t_tot - a_docs AS DECIMAL(38,0)) * (c_tot - a_docs)))"
            " div (CAST(t_tot AS DECIMAL(38,0)) * (n_tot - t_tot)"
            "      * c_tot * (n_tot - c_tot)) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("chi2_milli"),
    )
    ranked = chi2.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("lang").orderBy(
                F.col("chi2_milli").desc(), F.col("token")
            )
        ),
    )
    return ranked.where(F.col("rank") <= _CHI2_TOP_K).select(
        "lang",
        F.col("rank").cast("long").alias("rank"),
        "token",
        "a_docs",
        "chi2_milli",
    )


_ML_CHI2_FEATURE_SELECT_SQL = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, lang, unnest({_TOKENS_DUCK}) AS token
  FROM documents
), a AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS a_docs
  FROM dt GROUP BY lang, token
), t_tot AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS t_tot
  FROM dt GROUP BY token
), c_tot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_tot FROM documents GROUP BY lang
), n_tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM documents
), chi2 AS (
  SELECT a.lang, a.token, a.a_docs,
         CASE WHEN t_tot < n_tot AND c_tot < n_tot THEN
           CAST((1000 * CAST(n_tot AS HUGEINT)
              * (CAST(a_docs AS HUGEINT) * (n_tot - t_tot - c_tot + a_docs)
                 - CAST(t_tot - a_docs AS HUGEINT) * (c_tot - a_docs))
              * (CAST(a_docs AS HUGEINT) * (n_tot - t_tot - c_tot + a_docs)
                 - CAST(t_tot - a_docs AS HUGEINT) * (c_tot - a_docs)))
             // (CAST(t_tot AS HUGEINT) * (n_tot - t_tot)
                 * c_tot * (n_tot - c_tot)) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS chi2_milli
  FROM a JOIN t_tot USING (token) JOIN c_tot USING (lang) CROSS JOIN n_tot
), ranked AS (
  SELECT lang, token, a_docs, chi2_milli,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY chi2_milli DESC, token) AS rank
  FROM chi2
)
SELECT lang, CAST(rank AS BIGINT) AS rank, token, a_docs, chi2_milli
FROM ranked WHERE rank <= {_CHI2_TOP_K}
"""


_ZIPF_TOP_K = 20


def txt_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW CONFORMANCE — for the top-20 corpus tokens, the
    rank·frequency product and its ratio to the rank-1 frequency in
    exact ppm: Zipf predicts r·f(r) ≈ f(1), so a flat ratio column
    near 10⁶ is a natural corpus, collapse or spikes flag templated /
    synthetic text (the corpus-forensics sibling of
    `txt_vocab_coverage` and `txt_hapax_stats` — those measure mass
    coverage, this one measures the SHAPE of the head). Exact and
    log-free (never libm inside a hash-compared query): the ratio is
    one integer division with the r·f·10⁶ product in
    DECIMAL(38,0)/HUGEINT. Token occurrences compress to the
    vocab-sized count table first; the ranking window and the rank-1
    broadcast both run on vocab cardinality, never on occurrences.
    Tie order pinned (freq desc, token asc) identically in both
    engines."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.expr(_TOKENS)).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    w = W.orderBy(F.col("freq").desc(), F.col("token"))
    ranked = counts.select(
        "token",
        "freq",
        F.row_number().over(w).cast("long").alias("rank"),
        F.max("freq").over(W.partitionBy()).alias("f1"),
    ).where(F.col("rank") <= _ZIPF_TOP_K)
    return ranked.select(
        "rank",
        "token",
        "freq",
        (F.col("rank") * F.col("freq")).alias("rf"),
        F.expr(
            "CAST((CAST(rank AS DECIMAL(38,0)) * freq * 1000000)"
            " div f1 AS BIGINT)"
        ).alias("zipf_ratio_ppm"),
    )


_TXT_ZIPF_CHECK_SQL = f"""
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_TOKENS_DUCK}) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT token, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token)
              AS BIGINT) AS rank,
         CAST(MAX(freq) OVER () AS BIGINT) AS f1
  FROM counts
)
SELECT rank, token, freq, CAST(rank * freq AS BIGINT) AS rf,
       CAST((CAST(rank AS HUGEINT) * freq * 1000000) // f1
            AS BIGINT) AS zipf_ratio_ppm
FROM ranked WHERE rank <= {_ZIPF_TOP_K}
"""


# ---------------------------------------------------------------------------
# sketch_cms_heavy — count-min sketch estimates with exact-twin audit
# ---------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 16  # buckets per row (deliberately small → visible collisions)


def _cms_bucket_spark(salt: int) -> str:
    return (
        f"CAST(conv(substring(md5(concat('{salt}', ':', token)), 1, 12),"
        f" 16, 10) AS BIGINT) % {_CMS_W}"
    )


def _cms_bucket_duck(salt: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || ':' || token), 1, 12))"
        f" AS BIGINT) % {_CMS_W}"
    )


def sketch_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH frequency estimates for every corpus token,
    audited against the exact count — the streaming-frequency sketch
    whose one-sided error (est ≥ true, overshoot from bucket
    collisions only) this entry makes VISIBLE: d=4 md5-salted hash
    rows × w=16 buckets, est = min over rows of the bucket sum, plus
    the exact twin count, the overestimate, and the ≥-guarantee flag
    the oracle mirrors literally (the `agg_hll_rollup` exact+flag
    pattern — sketch internals are engine-specific in general, but
    THIS sketch is deterministic md5 arithmetic, so even est is
    hash-compared). Scale shape: occurrences compress to the
    vocab-sized count table FIRST and that table is eagerly
    localCheckpointed (the small-slate rule — the first cut built
    cells and probes as two 4-way UNIONs over the lazy `counts`,
    and every branch re-planned the corpus scan+explode+groupBy: 8
    parquet scans per call); the d-row hashing is now a single
    explode over the checkpointed table, so the raw stream is
    touched exactly once, the sketch build is a 64-cell aggregate
    of the vocab×d frame, and the probe is a vocab-sized join
    against the broadcast sketch."""
    tok = load_table(spark, sf_dir, "documents").select(
        F.explode(F.expr(_TOKENS)).alias("token")
    )
    counts = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    hashed = counts.select(
        "token",
        "freq",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"),
                        F.expr(_cms_bucket_spark(r)).alias("bucket"),
                    )
                    for r in range(_CMS_D)
                ]
            )
        ).alias("h"),
    ).select("token", "freq", "h.row_id", "h.bucket")
    cms = hashed.groupBy("row_id", "bucket").agg(
        F.sum("freq").alias("cell_sum")
    )
    est = (
        hashed.join(F.broadcast(cms), ["row_id", "bucket"])
        .groupBy("token")
        .agg(
            F.max("freq").alias("freq"),
            F.min("cell_sum").alias("est"),
        )
    )
    return est.select(
        "token",
        "freq",
        "est",
        (F.col("est") - F.col("freq")).alias("overcount"),
        (F.col("est") >= F.col("freq")).cast("long").alias("bound_ok"),
    )


def _cms_sql() -> str:
    cell_selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS row_id, {_cms_bucket_duck(r)} AS bucket, freq"
        " FROM counts"
        for r in range(_CMS_D)
    )
    probe_selects = "\nUNION ALL\n".join(
        f"SELECT token, freq, {r} AS row_id, {_cms_bucket_duck(r)} AS bucket"
        " FROM counts"
        for r in range(_CMS_D)
    )
    return f"""
WITH counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_TOKENS_DUCK}) AS token FROM documents)
  GROUP BY token
), cells AS (
{cell_selects}
), cms AS (
  SELECT row_id, bucket, CAST(SUM(freq) AS BIGINT) AS cell_sum
  FROM cells GROUP BY 1, 2
), probes AS (
{probe_selects}
)
SELECT p.token, CAST(MAX(p.freq) AS BIGINT) AS freq,
       CAST(MIN(c.cell_sum) AS BIGINT) AS est,
       CAST(MIN(c.cell_sum) - MAX(p.freq) AS BIGINT) AS overcount,
       CAST(CASE WHEN MIN(c.cell_sum) >= MAX(p.freq) THEN 1 ELSE 0 END
            AS BIGINT) AS bound_ok
FROM probes p JOIN cms c USING (row_id, bucket)
GROUP BY p.token
"""


# ---------------------------------------------------------------------------
# txt_keyphrase_textrank — graph-based keyword ranking
# ---------------------------------------------------------------------------

_TR_BASE = 1_000_000
_TR_ITERS = 3
_TR_TOPK = 15


# The TextRank weighted co-occurrence edge list (a, b, wt, wdeg),
# staged per (application, dataset): previously a per-call
# localCheckpoint — every warm invocation rebuilt the corpus
# posexplode + lag window; memoizing follows the staged-front policy
# (warm runs start from the materialized vocabulary-sized graph).
def _textrank_edges_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.posexplode(F.expr(_TOKENS)).alias("pos", "t"))
        .select("doc_id", "pos", F.lower("t").alias("w"))
        .where(~F.col("w").isin(*STOPWORDS))
    )
    seq = toks.withColumn(
        "prev", F.lag("w").over(W.partitionBy("doc_id").orderBy("pos"))
    ).where(F.col("prev").isNotNull() & (F.col("prev") != F.col("w")))
    sym = seq.select(
        F.col("prev").alias("a"), F.col("w").alias("b")
    ).union(seq.select(F.col("w").alias("a"), F.col("prev").alias("b")))
    edges_w = sym.groupBy("a", "b").agg(F.count(F.lit(1)).alias("wt"))
    wdeg = edges_w.groupBy("a").agg(F.sum("wt").alias("wdeg"))
    return edges_w.join(wdeg, "a")


def _textrank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "textrank_edges",
        lambda: _textrank_edges_build(spark, sf_dir).localCheckpoint(
            eager=True
        ),
    )


def txt_keyphrase_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK KEYWORDS — the graph-based corpus keyworder that
    complements RAKE's frequency/degree heuristic (`txt_rake_keywords`)
    and TF-IDF (`txt_tfidf_topterms`): non-stopword tokens are
    vertices, adjacency in the filtered token sequence is an edge,
    and importance is 3 fixed iterations of WEIGHTED PageRank over
    the co-occurrence graph — a word matters because important words
    sit next to it, which frequency alone can't see. Integer
    arithmetic mirrors `graph_pagerank`: scaled ranks, per-edge
    contribution (r*wt) div wdeg in DECIMAL(38,0)/HUGEINT (the r*wt
    product overflows int64 at corpus-scale co-occurrence counts),
    damping as (85*sum) div 100 AFTER the associative sum. Scale
    shape: the corpus collapses to the vocabulary-sized weighted
    edge list in one pass (posexplode + per-doc lag window); every
    iteration is one equi-join + one sum on that tiny graph. Top-15
    with the (rank desc, word) tie order."""
    edges = _textrank_edges(spark, sf_dir)
    # seed from the STAGED edge list (distinct source vertices) — a
    # seed built from the pre-checkpoint wdeg frame would re-run the
    # whole corpus explode + window subtree a fourth time
    ranks = edges.select("a").distinct().select(
        F.col("a").alias("v"), F.lit(_TR_BASE).cast("long").alias("r")
    )
    teleport = (15 * _TR_BASE) // 100
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(ranks, edges.a == ranks.v)
            .select(
                "b",
                F.expr(
                    "CAST((CAST(r AS DECIMAL(38,0)) * wt) div wdeg"
                    " AS BIGINT)"
                ).alias("c"),
            )
            .groupBy("b")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            F.col("b").alias("v"),
            (F.lit(teleport) + F.expr("(85 * s) div 100"))
            .cast("long")
            .alias("r"),
        )
    top = ranks.orderBy(F.col("r").desc(), "v").limit(_TR_TOPK)
    return top.select(
        F.row_number()
        .over(W.orderBy(F.col("r").desc(), "v"))
        .cast("long")
        .alias("rank"),
        F.col("v").alias("word"),
        F.col("r").alias("textrank_scaled"),
    )


def _textrank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _TR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT e.b AS v,
         {(15 * _TR_BASE) // 100}
           + (85 * SUM(CAST((CAST(p.r AS HUGEINT) * e.wt) // e.wdeg
                            AS BIGINT))) // 100 AS r
  FROM edges e JOIN {prev} p ON p.v = e.a
  GROUP BY e.b
)"""
        )
        prev = f"r{i}"
    chain = ", ".join(iters)
    return f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(ts, 1) AS pos, lower(unnest(ts)) AS w
  FROM (SELECT doc_id, {_TOKENS_DUCK} AS ts FROM documents)
), filt AS (
  SELECT doc_id, pos, w FROM toks WHERE w NOT IN {_STOP_SQL}
), seq AS (
  SELECT doc_id, w,
         LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM filt
), pairs AS (
  SELECT prev, w FROM seq WHERE prev IS NOT NULL AND prev != w
), sym AS (
  SELECT prev AS a, w AS b FROM pairs
  UNION ALL
  SELECT w, prev FROM pairs
), edges AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS wt,
         CAST(SUM(COUNT(*)) OVER (PARTITION BY a) AS BIGINT) AS wdeg
  FROM sym GROUP BY a, b
), r0 AS (
  SELECT a AS v, CAST({_TR_BASE} AS BIGINT) AS r
  FROM (SELECT DISTINCT a FROM edges)
), {chain}
SELECT CAST(row_number() OVER (ORDER BY r DESC, v) AS BIGINT) AS rank,
       v AS word, CAST(r AS BIGINT) AS textrank_scaled
FROM {prev}
ORDER BY r DESC, v LIMIT {_TR_TOPK}
"""


# ---------------------------------------------------------------------------
# txt_bpe_train_step — one BPE vocabulary-training merge round
# ---------------------------------------------------------------------------

_BPE_TOPK = 10


def txt_bpe_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING INNER LOOP — one merge round of byte-pair
    encoding, the algorithm every tokenizer vocabulary is built
    with, in its production shape: training runs on the WORD
    FREQUENCY TABLE (vocab-sized, not corpus-sized — the classic
    Sennrich formulation), adjacent-pair counts weight by word
    frequency, the argmax pair becomes the merge, and the report
    shows the top-10 candidates plus the corpus symbol count before
    and after applying the winner. Non-overlapping leftmost merge
    counts come from replace()'s one-pass semantics — occurrences =
    (len - len(replace(word, pair, '')))/2 — identical in both
    engines and identical to greedy BPE application. At 100 TB the
    corpus pass is the one word-count aggregate; every later merge
    round is vocab-sized."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.posexplode(F.expr(_TOKENS)).alias("pos", "t"))
        .select(F.lower("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.length("w") >= 2)
        .localCheckpoint(eager=True)
    )
    pairs = (
        words.select(
            "w",
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
    )
    ranked = pairs.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("pair_count").desc(), "pair"))
        .cast("long"),
    ).where(F.col("rank") <= _BPE_TOPK)
    top = ranked.where(F.col("rank") == 1).select(
        F.col("pair").alias("top_pair"), F.col("pair_count").alias("top_n")
    )
    stats = (
        words.crossJoin(F.broadcast(top))
        .agg(
            F.sum(F.expr("cnt * length(w)")).alias("symbols_before"),
            F.sum(
                F.expr(
                    "cnt * ((length(w) - length(replace(w, top_pair, '')))"
                    " div 2)"
                )
            ).alias("n_merged"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "pair",
            F.col("pair_count").cast("long").alias("pair_count"),
            (F.col("rank") == 1).cast("long").alias("is_merge"),
            F.col("symbols_before").cast("long").alias("symbols_before"),
            (F.col("symbols_before") - F.col("n_merged"))
            .cast("long")
            .alias("symbols_after"),
        )
    )


_TXT_BPE_TRAIN_SQL = f"""
WITH toks AS (
  SELECT lower(unnest({_TOKENS_DUCK})) AS w FROM documents
), words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks WHERE length(w) >= 2 GROUP BY w
), pairs AS (
  SELECT substring(w.w, i.i, 2) AS pair, CAST(SUM(w.cnt) AS BIGINT)
           AS pair_count
  FROM words w,
       LATERAL (SELECT unnest(range(1, length(w.w))) AS i) i
  GROUP BY 1
), ranked AS (
  SELECT pair, pair_count,
         CAST(row_number() OVER (ORDER BY pair_count DESC, pair)
              AS BIGINT) AS rank
  FROM pairs
), top AS (
  SELECT pair AS top_pair FROM ranked WHERE rank = 1
), stats AS (
  SELECT CAST(SUM(cnt * length(w)) AS BIGINT) AS symbols_before,
         CAST(SUM(cnt * ((length(w) - length(replace(w, top_pair, '')))
                         // 2)) AS BIGINT) AS n_merged
  FROM words CROSS JOIN top
)
SELECT r.rank, r.pair, r.pair_count,
       CAST(CASE WHEN r.rank = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_merge,
       s.symbols_before,
       CAST(s.symbols_before - s.n_merged AS BIGINT) AS symbols_after
FROM ranked r CROSS JOIN stats s
WHERE r.rank <= {_BPE_TOPK}
"""


# ---------------------------------------------------------------------------
# txt_bpe_merge_rounds — the full 3-round BPE training loop
# ---------------------------------------------------------------------------

# Merged pairs collapse to single placeholder symbols so later rounds
# can merge ACROSS earlier merges (real BPE behavior — the winning
# pair of round 2 may contain round 1's symbol). Digits never appear
# in the alphabetic token vocabulary, so they are safe fresh symbols.
_BPE_MARKS = ("0", "1", "2")

# pair windows guarded for length-1 words (merges create them):
# Spark's sequence(1, 0) DESCENDS, so the unguarded transform would
# fabricate a bogus pair — the guard discipline from
# tests/test_edge_corpus.py applied at the source.
_BPE_PAIRS_EXPR = (
    "CASE WHEN length(w) >= 2 THEN"
    " transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
    " ELSE array() END"
)


def txt_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BPE TRAINING LOOP — three sequential merge rounds, where
    `txt_bpe_train_step` shows only the inner step: each round counts
    frequency-weighted adjacent pairs over the CURRENT word table,
    merges the argmax pair into a fresh single symbol, and re-groups
    the collapsed words (distinct words can collide after a merge —
    their counts pool, exactly as a real trainer's word table does).
    Recomputing pair counts after every merge is what makes it BPE:
    round 2's winner may contain round 1's merged symbol. Output is
    the merge ledger (round, pair, weighted count, corpus symbol
    count after applying it) — symbols_after strictly decreases.
    Determinism: argmax ties break on pair ascending; replace() is
    one-pass leftmost non-overlapping in both engines (the
    txt_bpe_train_step occurrence identity). Scale shape: ONE
    corpus-sized word-count shuffle, then every round is vocab-sized
    (pair counts, a 1-row broadcast argmax, a vocab regroup) — the
    production trainer shape where corpus passes are paid once."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(_TOKENS)).alias("t"))
        .select(F.lower("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    rows = []
    cur = words
    for rnd, mark in enumerate(_BPE_MARKS, start=1):
        pairs = (
            cur.select("cnt", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        # global top-1 as TakeOrderedAndProject (orderBy + limit), not
        # a single-partition row_number window: the vocab-sized pair
        # table never funnels through one task
        top = (
            pairs.orderBy(F.col("pair_count").desc(), "pair")
            .limit(1)
            .select(
                F.col("pair").alias("mp"),
                F.col("pair_count").cast("long").alias("mc"),
            )
        )
        nxt = (
            cur.crossJoin(F.broadcast(top))
            .select(F.expr(f"replace(w, mp, '{mark}')").alias("w"), "cnt")
            .groupBy("w")
            .agg(F.sum("cnt").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        stats = nxt.agg(
            F.sum(F.expr("cnt * length(w)")).cast("long").alias("symbols_after")
        )
        rows.append(
            top.crossJoin(F.broadcast(stats)).select(
                F.lit(rnd).cast("long").alias("merge_round"),
                F.col("mp").alias("merge_pair"),
                F.col("mc").alias("pair_count"),
                "symbols_after",
            )
        )
        cur = nxt
    return rows[0].unionByName(rows[1]).unionByName(rows[2])


def _bpe_rounds_sql() -> str:
    """Chained-CTE replay: w0 -> (p/t/w/s) x 3 with the same guarded
    pair windows (DuckDB range(1,1) is already empty — no guard
    needed there) and the same placeholder symbols."""
    parts = [
        f"""WITH toks AS (
  SELECT lower(unnest({_TOKENS_DUCK})) AS w FROM documents
), w0 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w
)"""
    ]
    for rnd, mark in enumerate(_BPE_MARKS, start=1):
        prev = f"w{rnd - 1}"
        parts.append(
            f""", p{rnd} AS (
  SELECT substring(t.w, i.i, 2) AS pair,
         CAST(SUM(t.cnt) AS BIGINT) AS pc
  FROM {prev} t,
       LATERAL (SELECT unnest(range(1, length(t.w))) AS i) i
  WHERE length(t.w) >= 2
  GROUP BY 1
), t{rnd} AS (
  SELECT pair, pc FROM p{rnd} ORDER BY pc DESC, pair LIMIT 1
), w{rnd} AS (
  SELECT replace({prev}.w, t{rnd}.pair, '{mark}') AS w,
         CAST(SUM({prev}.cnt) AS BIGINT) AS cnt
  FROM {prev} CROSS JOIN t{rnd}
  GROUP BY 1
), s{rnd} AS (
  SELECT CAST(SUM(cnt * length(w)) AS BIGINT) AS symbols_after
  FROM w{rnd}
)"""
        )
    selects = [
        f"""SELECT CAST({rnd} AS BIGINT) AS merge_round,
       t{rnd}.pair AS merge_pair, t{rnd}.pc AS pair_count,
       s{rnd}.symbols_after
FROM t{rnd} CROSS JOIN s{rnd}"""
        for rnd in (1, 2, 3)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


# ---------------------------------------------------------------------------
# txt_token_count_arrow — mapInArrow vectorized token counting
# ---------------------------------------------------------------------------


def txt_token_count_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` SURFACE — the 1:N Arrow-native map path (the
    third leg of the Python triangle: pandas_udf / applyInArrow /
    mapInArrow), counting tokens with pyarrow's vectorized
    `count_substring_regex` kernel: batches stream through as
    RecordBatches, no pandas object boxing, no per-row Python. The
    regex (\\S+) is byte-identical to the JVM `txt_token_count`
    entry and the DuckDB oracle, so all three engines agree exactly
    — the entry pins that moving a kernel to the Arrow path changes
    THROUGHPUT, not answers. Narrow op: zero shuffles, the batch
    iterator preserves partitioning."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for batch in batches:
            t = batch.column(batch.schema.get_field_index("text"))
            n = pc.count_substring_regex(t, pattern=r"\S+")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    pc.cast(n, pa.int64()),
                ],
                names=["doc_id", "n_tokens"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(count_tokens, "doc_id BIGINT, n_tokens BIGINT")


_TXT_TOKEN_COUNT_ARROW_SQL = f"""
SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# txt_unicode_nfc_audit — Unicode normalization audit
# ---------------------------------------------------------------------------

# decomposed suffix (e + COMBINING ACUTE, a + COMBINING RING): NFC
# recomposes both, so injected docs MUST change under normalization
_NFC_SUFFIX = " cafe\u0301 a\u030A"  # decomposed: e+ACUTE, a+RING


def txt_unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE NFC AUDIT — the normalization pass every multilingual
    training corpus needs before dedup or tokenization: visually
    identical strings with different codepoint sequences (composed
    'é' vs 'e'+combining accent) hash apart, split vocabulary
    entries, and defeat exact dedup. The corpus gets a DETERMINISTIC
    non-NFC injection in-plan (every 7th doc, the `txt_pii_redact`
    trick), normalization runs in an Arrow-batched pandas UDF over
    Python's unicodedata (the designed UDF boundary — Spark has no
    built-in normalizer), and the DuckDB twin uses its native
    utf8proc nfc_normalize — agreement across two INDEPENDENT NFC
    implementations is itself the correctness evidence. Report:
    how many docs changed, total codepoint delta, and an md5
    checksum of the normalized corpus (UTF-8 bytes, both engines)."""
    def _nfc_pandas(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    nfc = F.pandas_udf(_nfc_pandas, "string")

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(_NFC_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    n = d.select(
        "doc_id",
        "text",
        nfc(F.col("text")).alias("norm"),
    )
    return n.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("norm") != F.col("text")).cast("long")).alias(
            "n_changed"
        ),
        F.sum(F.length("text") - F.length("norm")).alias("delta_chars"),
        F.sum(
            F.expr(
                "CAST(conv(substring(md5(CAST(norm AS BINARY)), 1, 8),"
                " 16, 10) AS BIGINT)"
            )
        ).alias("norm_checksum"),
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_changed").cast("long").alias("n_changed"),
        F.col("delta_chars").cast("long").alias("delta_chars"),
        F.col("norm_checksum").cast("long").alias("norm_checksum"),
    )


_TXT_NFC_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || '{_NFC_SUFFIX}'
              ELSE text END AS text
  FROM documents
), n AS (
  SELECT doc_id, text, nfc_normalize(text) AS norm FROM d
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN norm != text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(length(text) - length(norm)) AS BIGINT) AS delta_chars,
       CAST(SUM(CAST(('0x' || substr(md5(norm), 1, 8)) AS BIGINT))
            AS BIGINT) AS norm_checksum
FROM n
"""


# ---------------------------------------------------------------------------
# ml_naive_bayes — multinomial NB language classifier in exact micro-bits
# ---------------------------------------------------------------------------


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language classifier, trained AND
    applied in-plan — the fastText-quality-classifier shape every
    pretraining pipeline runs (train a cheap linear model on labeled
    docs, score the corpus, route on argmax), with the whole
    log-space computation in EXACT integer micro-bits: Laplace-
    smoothed token likelihoods p(tok|c) = (cnt+1)/(tot+V) and priors
    scale to [1, 2^20] and -log2 decomposes as bin()-length exponent
    + the shared 64-entry mantissa table (`_LOG2U_TABLE` — the
    txt_doc_perplexity discipline, no libm near the comparison
    surface). Class score = prior_bits + sum tf * bits; argmin by
    min(struct(score, class)) — deterministic class-asc tiebreak,
    identical lexicographic struct compare in both engines. Output
    is the 5x5 confusion rollup on the training corpus itself
    (mechanism surface, like ml_knn_classify: the synthetic corpus
    shares vocabulary across langs so accuracy is modest — the pin
    is it beats the majority class). Scale shape: token counts are
    one partial-aggregable shuffle; the likelihood grid is
    vocab x 5 (vocab-sized, built by broadcasting the 5-row class
    dim); scoring is an equi-join on the token followed by a
    (doc, class) partial agg — no cartesian wider than the
    bounded class slate, no global window."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # the tf frame is the STAGED `_tf_lang` front (shared with
    # samp_dsir_importance); the class-level count table, class
    # totals, vocabulary, and vocab size all derive from it
    # (tf-sized work). Priors come from the documents table itself —
    # zero-token docs have no tf rows but still count toward priors.
    tf = _tf_lang(spark, sf_dir)
    cls = d.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("n_docs_c")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    cnt = tf.groupBy(F.col("lang").alias("c"), "tok").agg(
        F.sum("tf").alias("cnt")
    )
    ctot = cnt.groupBy("c").agg(F.sum("cnt").alias("tot"))
    vocab = cnt.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    grid = (
        vocab.crossJoin(F.broadcast(cls.join(ctot, "c")))
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["c", "tok"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    ps_tok = (
        "greatest(CAST((CAST(cnt + 1 AS DECIMAL(38,0)) * 1048576)"
        " div (tot + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    tokbits = grid.select(
        "c",
        "tok",
        F.expr(_nb_bits_spark(ps_tok)).alias("bits"),
    )
    ps_prior = (
        "greatest(CAST((CAST(n_docs_c AS DECIMAL(38,0)) * 1048576)"
        " div n_docs AS BIGINT), CAST(1 AS BIGINT))"
    )
    priorbits = cls.crossJoin(F.broadcast(nd)).select(
        "c", F.expr(_nb_bits_spark(ps_prior)).alias("pbits")
    )
    docscore = (
        tf.join(tokbits, "tok")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.expr("tf * bits")).alias("tbits"))
    )
    scored = docscore.join(F.broadcast(priorbits), "c").select(
        "doc_id",
        "lang",
        "c",
        (F.col("tbits") + F.col("pbits")).alias("score"),
    )
    pred = scored.groupBy(
        "doc_id", F.col("lang").alias("lang_actual")
    ).agg(F.min(F.struct("score", "c")).alias("best"))
    return (
        pred.groupBy(
            "lang_actual", F.col("best.c").alias("lang_pred")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _nb_bits_spark(ps: str) -> str:
    e = f"CAST(length(bin({ps})) - 1 AS BIGINT)"
    m = f"(({ps}) * 64) div shiftleft(CAST(1 AS BIGINT), {e})"
    return (
        f"(20000000 - ({e} * 1000000"
        f" + element_at({_LOG2U_SPARK}, CAST({m} - 63 AS INT))))"
    )


def _nb_bits_duck(ps: str) -> str:
    e = f"CAST(length(bin({ps})) - 1 AS BIGINT)"
    m = f"(({ps}) * 64) // (CAST(1 AS BIGINT) << ({e}))"
    return (
        f"(20000000 - ({e} * 1000000"
        f" + ({_LOG2U_DUCK})[CAST({m} - 63 AS INT)]))"
    )


def _ml_naive_bayes_sql() -> str:
    ps_tok = (
        "greatest(CAST((CAST(cnt + 1 AS HUGEINT) * 1048576)"
        " // (tot + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    ps_prior = (
        "greatest(CAST((CAST(n_docs_c AS HUGEINT) * 1048576)"
        " // n_docs AS BIGINT), CAST(1 AS BIGINT))"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKENS_DUCK}) AS tok FROM documents
), tf AS (
  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, lang, tok
), cls AS (
  SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n_docs_c
  FROM documents GROUP BY lang
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
), vocab AS (
  SELECT DISTINCT tok FROM toks
), vsize AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab
), cnt AS (
  SELECT lang AS c, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY lang, tok
), ctot AS (
  SELECT c, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY c
), grid AS (
  SELECT cls.c, vocab.tok, coalesce(cnt.cnt, 0) AS cnt, ctot.tot, vsize.v
  FROM cls CROSS JOIN vocab
  LEFT JOIN cnt ON cnt.c = cls.c AND cnt.tok = vocab.tok
  JOIN ctot ON ctot.c = cls.c
  CROSS JOIN vsize
), tokbits AS (
  SELECT c, tok, {_nb_bits_duck(ps_tok)} AS bits FROM grid
), priorbits AS (
  SELECT cls.c, {_nb_bits_duck(ps_prior)} AS pbits
  FROM cls CROSS JOIN nd
), docscore AS (
  SELECT tf.doc_id, tf.lang, tb.c,
         CAST(SUM(tf.tf * tb.bits) AS BIGINT) AS tbits
  FROM tf JOIN tokbits tb ON tf.tok = tb.tok
  GROUP BY tf.doc_id, tf.lang, tb.c
), scored AS (
  SELECT d.doc_id, d.lang, d.c, d.tbits + p.pbits AS score
  FROM docscore d JOIN priorbits p ON d.c = p.c
), pred AS (
  SELECT doc_id, lang AS lang_actual,
         min(struct_pack(score := score, c := c)) AS best
  FROM scored GROUP BY doc_id, lang
)
SELECT lang_actual, best.c AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang_actual, best.c
"""


# ---------------------------------------------------------------------------
# samp_dsir_importance — DSIR-style importance weighting for data selection
# ---------------------------------------------------------------------------

# The language-labeled term-frequency front: (doc_id, lang, tok, tf),
# memoized per (application, dataset) — ml_naive_bayes and
# samp_dsir_importance both train unigram LMs over exactly this
# frame; unstaged, each warm run re-ran the corpus explode + tf
# shuffle (retrieval._tf_front is the lang-free BM25 sibling).
def _tf_lang_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    toks = d.select(
        "doc_id", "lang", F.explode(F.expr(_TOKENS)).alias("tok")
    )
    return toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )


def _tf_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "tf_lang",
        lambda: _tf_lang_build(spark, sf_dir).localCheckpoint(eager=True),
    )


_DSIR_TARGET_LANG = "en"
_DSIR_TOP = 50


def samp_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA SELECTION WITH IMPORTANCE RESAMPLING (DSIR, Xie et al.
    2023) — the curation step that picks raw-corpus documents that
    LOOK LIKE a target domain: fit a cheap unigram LM on the target
    slice (here lang = 'en') and one on the full raw corpus, weight
    every document by its log-likelihood RATIO under the two, and
    keep the top of the ranking (the resampling step; the paper's
    hashed-ngram variant is this with feature hashing, which
    `ml_feature_hashing` covers separately). Log-space weights are
    EXACT integer micro-bits via the shared bin()-length + mantissa
    table (the ml_naive_bayes/`txt_doc_perplexity` discipline):
    w(doc) = sum_tok tf * (bits_raw(tok) - bits_target(tok)) — both
    LMs Laplace-smoothed over the SHARED vocabulary, so out-of-target
    tokens penalize rather than crash. Positive w = the target LM
    finds the doc more likely than the raw LM. Output: the top-50
    docs by weight (distributed top-K via orderBy().limit — never a
    global sort) with per-doc token count and weight; deterministic
    tiebreak by doc_id. Scale shape: one corpus explode into the tf
    shuffle, vocab-sized LM tables broadcast-joined back, map-side
    partial agg to per-doc weights."""
    tf = _tf_lang(spark, sf_dir)
    cnt = tf.groupBy("tok").agg(
        F.sum("tf").alias("cnt_raw"),
        F.sum(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("tf")).otherwise(
                0
            )
        ).alias("cnt_tgt"),
    )
    tots = cnt.agg(
        F.sum("cnt_raw").alias("tot_raw"),
        F.sum("cnt_tgt").alias("tot_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    ps_raw = (
        "greatest(CAST((CAST(cnt_raw + 1 AS DECIMAL(38,0)) * 1048576)"
        " div (tot_raw + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    ps_tgt = (
        "greatest(CAST((CAST(cnt_tgt + 1 AS DECIMAL(38,0)) * 1048576)"
        " div (tot_tgt + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    lm = cnt.crossJoin(F.broadcast(tots)).select(
        "tok",
        F.expr(_nb_bits_spark(ps_raw)).alias("bits_raw"),
        F.expr(_nb_bits_spark(ps_tgt)).alias("bits_tgt"),
    )
    weights = (
        tf.join(lm, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.expr("tf * (bits_raw - bits_tgt)")
            ).alias("w_microbits"),
        )
    )
    return (
        weights.orderBy(F.desc("w_microbits"), F.asc("doc_id"))
        .limit(_DSIR_TOP)
        .select("doc_id", "lang", "n_tokens", "w_microbits")
    )


def _samp_dsir_sql() -> str:
    ps_raw = (
        "greatest(CAST((CAST(cnt_raw + 1 AS HUGEINT) * 1048576)"
        " // (tot_raw + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    ps_tgt = (
        "greatest(CAST((CAST(cnt_tgt + 1 AS HUGEINT) * 1048576)"
        " // (tot_tgt + v) AS BIGINT), CAST(1 AS BIGINT))"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKENS_DUCK}) AS tok FROM documents
), tf AS (
  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, lang, tok
), cnt AS (
  SELECT tok,
         CAST(SUM(tf) AS BIGINT) AS cnt_raw,
         CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN tf
                       ELSE 0 END) AS BIGINT) AS cnt_tgt
  FROM tf GROUP BY tok
), tots AS (
  SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
         CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM cnt
), lm AS (
  SELECT tok, {_nb_bits_duck(ps_raw)} AS bits_raw,
         {_nb_bits_duck(ps_tgt)} AS bits_tgt
  FROM cnt CROSS JOIN tots
), weights AS (
  SELECT tf.doc_id, tf.lang,
         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf.tf * (lm.bits_raw - lm.bits_tgt)) AS BIGINT)
           AS w_microbits
  FROM tf JOIN lm USING (tok)
  GROUP BY tf.doc_id, tf.lang
)
SELECT doc_id, lang, n_tokens, w_microbits
FROM weights
ORDER BY w_microbits DESC, doc_id ASC
LIMIT {_DSIR_TOP}
"""


# ---------------------------------------------------------------------------
# dedup_passage_runs — cross-document repeated-PASSAGE extraction
# ---------------------------------------------------------------------------

# Passage-mining parameters: 5-token shingles, document-frequency band
# [2, 50] (df >= 2 because singleton grams can never pair — a free
# 95% candidate cut; df <= 50 drops boilerplate grams shared by huge
# doc sets, whose posting lists would otherwise go quadratic in the
# pair join — the same guard every production passage-dedup pipeline
# applies, and the df-capped passages ARE boilerplate, the class
# txt_boilerplate_chunks handles), minimum passage length 12 tokens
# (>= 8 consecutive matching 5-grams).
_PASSAGE_N = 5
_PASSAGE_DF_MIN = 2
_PASSAGE_DF_MAX = 50
_PASSAGE_MIN_TOKENS = 12


# The passage-run RESULT is a memoized front (r12 optimization round,
# the _ann_join_result discipline): TWO registry entries consume it —
# dedup_passage_runs itself and dedup_passage_overlap's pair rollup —
# and each call re-planned the whole shingle+df-band+self-join+window
# pipeline (4 parquet scans; the self-join reads the gram frame
# twice). The frame is one row per detected >= 12-token shared run —
# duplicate-evidence-sized, never corpus-sized — so an eager
# localCheckpoint per (app, dataset) serves both entries.
def _passage_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return front(
        spark,
        sf_dir,
        "passage_runs",
        lambda: _passage_runs_build(spark, sf_dir).localCheckpoint(
            eager=True
        ),
        owner="dedup_passage_runs",
    )


def dedup_passage_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DOCUMENT REPEATED-PASSAGE extraction — the passage-level
    member of the dedup family (doc-level: minhash/simhash/jaccard;
    this op finds the SHARED SPANS those methods only score): for
    every ordered doc pair, the maximal runs of >= 12 consecutive
    identical tokens, located by position in both docs. This is the
    'dedup training data at the sequence level' operator from the
    memorization literature (Lee et al. 2022 'Deduplicating Training
    Data Makes Language Models Better' — their 50-token exact
    substring unit, scaled to the fixture's short docs): doc-level
    near-dup keeps one clone and drops the other, but a quoted or
    templated PASSAGE inside otherwise-distinct documents survives
    every doc-level method and still memorizes.

    Shape: tokens -> per-doc 5-gram shingles by array slice (no
    window), df-banded [2, 50] (rarity cut + boilerplate cap — see
    the constants above), equi-join on the gram string to get
    position pairs, then the gaps-and-islands identity per
    (doc1, doc2, diagonal): consecutive matching grams share
    p1 - p2, so run id = p1 - row_number() — the window is
    partitioned by doc pair + diagonal, never global. A run of k
    grams covers k + 4 tokens. Everything is equi-join + partitioned
    window: no cartesian, no global sort, posting lists bounded by
    the df cap at any corpus size. Served from the memoized
    passage-run front (_passage_runs; build plan below)."""
    return _passage_runs(spark, sf_dir)


def _passage_runs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") >= _PASSAGE_N
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_PASSAGE_N - 1}),"
                f" i -> concat_ws(' ', slice(toks, i, {_PASSAGE_N})))"
            )
        ).alias("p0", "gram"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    banded = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(
            (F.col("df") >= _PASSAGE_DF_MIN)
            & (F.col("df") <= _PASSAGE_DF_MAX)
        )
        .select("gram")
    )
    g2 = grams.join(banded, "gram", "left_semi")
    a = g2.select(
        F.col("doc_id").alias("doc1"), F.col("pos").alias("p1"), "gram"
    )
    b = g2.select(
        F.col("doc_id").alias("doc2"), F.col("pos").alias("p2"), "gram"
    )
    pairs = a.join(b, "gram").where(F.col("doc1") < F.col("doc2"))
    wi = W.partitionBy("doc1", "doc2", "diag").orderBy("p1")
    islands = pairs.withColumn("diag", F.col("p1") - F.col("p2")).withColumn(
        "isl", F.col("p1") - F.row_number().over(wi)
    )
    return (
        islands.groupBy("doc1", "doc2", "diag", "isl")
        .agg(
            F.min("p1").cast("long").alias("start1"),
            F.min("p2").cast("long").alias("start2"),
            (F.count(F.lit(1)) + _PASSAGE_N - 1).cast("long").alias(
                "n_tokens"
            ),
        )
        .where(F.col("n_tokens") >= _PASSAGE_MIN_TOKENS)
        .select("doc1", "doc2", "start1", "start2", "n_tokens")
    )


_DEDUP_PASSAGE_RUNS_SQL = f"""
WITH toksrc AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
), posed AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) - {_PASSAGE_N - 2})) AS pos
  FROM toksrc WHERE len(toks) >= {_PASSAGE_N}
), grams AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos + {_PASSAGE_N - 1}], ' ') AS gram
  FROM posed
), banded AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING COUNT(DISTINCT doc_id)
         BETWEEN {_PASSAGE_DF_MIN} AND {_PASSAGE_DF_MAX}
), g2 AS (
  SELECT grams.doc_id, grams.pos, grams.gram
  FROM grams JOIN banded USING (gram)
), pairs AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.pos AS p1, b.pos AS p2
  FROM g2 a JOIN g2 b ON a.gram = b.gram AND a.doc_id < b.doc_id
), islands AS (
  SELECT doc1, doc2, p1 - p2 AS diag, p1, p2,
         p1 - row_number()
                OVER (PARTITION BY doc1, doc2, p1 - p2 ORDER BY p1) AS isl
  FROM pairs
)
SELECT doc1, doc2,
       CAST(MIN(p1) AS BIGINT) AS start1,
       CAST(MIN(p2) AS BIGINT) AS start2,
       CAST(COUNT(*) + {_PASSAGE_N - 1} AS BIGINT) AS n_tokens
FROM islands GROUP BY doc1, doc2, diag, isl
HAVING COUNT(*) + {_PASSAGE_N - 1} >= {_PASSAGE_MIN_TOKENS}
"""


def dedup_passage_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOC-PAIR OVERLAP LEDGER over the repeated-passage runs — the
    triage table a dedup pipeline actually routes on: per (doc1,
    doc2) pair with at least one >= 12-token shared passage, the run
    count, the summed run length, the longest run, and the summed
    run length as ppm of the SMALLER document's token count — the
    containment-style score that separates 'shares a boilerplate
    header' from 'is substantially the same document'. run_tokens
    sums RUN lengths (overlapping runs on different diagonals can
    cover the same token twice, so it is an upper bound on covered
    tokens — documented, deterministic, and identical in both
    engines; exact coverage would need an interval union per pair,
    which `win_interval_merge` demonstrates separately). Shape: the
    passage-run frame (equi-join + partitioned windows, see
    `dedup_passage_runs`) collapses to one row per qualifying pair;
    doc token counts broadcast onto the pair-level rollup. Rides the
    memoized passage-run front shared with dedup_passage_runs."""
    runs = _passage_runs(spark, sf_dir)
    pair = runs.groupBy("doc1", "doc2").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("n_tokens").alias("run_tokens"),
        F.max("n_tokens").alias("max_run"),
    )
    dl = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(f"CAST(size({_TOKENS}) AS BIGINT)").alias("dl")
    )
    d1 = dl.select(F.col("doc_id").alias("doc1"), F.col("dl").alias("dl1"))
    d2 = dl.select(F.col("doc_id").alias("doc2"), F.col("dl").alias("dl2"))
    return (
        pair.join(d1, "doc1")
        .join(d2, "doc2")
        .select(
            "doc1",
            "doc2",
            "n_runs",
            "run_tokens",
            "max_run",
            F.expr(
                "(run_tokens * 1000000) div least(dl1, dl2)"
            ).alias("containment_ppm"),
        )
    )


_DEDUP_PASSAGE_OVERLAP_SQL = f"""
WITH runs AS ({_DEDUP_PASSAGE_RUNS_SQL}
), pair AS (
  SELECT doc1, doc2,
         CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(SUM(n_tokens) AS BIGINT) AS run_tokens,
         CAST(MAX(n_tokens) AS BIGINT) AS max_run
  FROM runs GROUP BY doc1, doc2
), dl AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS dl FROM documents
)
SELECT p.doc1, p.doc2, p.n_runs, p.run_tokens, p.max_run,
       CAST((p.run_tokens * 1000000) // least(a.dl, b.dl) AS BIGINT)
         AS containment_ppm
FROM pair p
JOIN dl a ON a.doc_id = p.doc1
JOIN dl b ON b.doc_id = p.doc2
"""


# ---------------------------------------------------------------------------
# dedup_cdc_chunks — content-defined chunking dedup (rsync/FastCDC shape)
# ---------------------------------------------------------------------------

_CDC_DIV = 16  # boundary probability 1/16 -> expected ~16-token chunks


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING DEDUP — the storage-dedup primitive
    (rsync, LBFS, FastCDC): cut every document at positions where a
    local content hash fires, so identical passages produce identical
    chunks REGARDLESS of their byte offset (a fixed-size chunker
    loses all alignment after one inserted word — the exact failure
    CDC exists to fix), then find the chunks shared across distinct
    documents by one hash groupBy. Complements the pairwise passage
    ops (`dedup_passage_runs` joins doc PAIRS on shingles): CDC is
    the SINGLE-PASS shape — O(corpus) chunking + one aggregate, no
    pair join anywhere, which is why storage systems run it at
    exabyte scale. Boundary rule: a new chunk starts before token i
    iff the 48-bit md5 of the adjacent token pair (t[i-1], t[i])
    is 0 mod 16 (expected chunk ~16 tokens). Chunking is a pure
    per-doc array computation (zero shuffle); the only shuffle
    carries (chunk_fp, doc) — compressed, not corpus-sized. Output:
    chunks recurring in >= 2 distinct docs, worst first, with the
    dedup savings each would buy."""
    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", F.expr(_TOKENS).alias("toks")).where(
        F.size("toks") > 0
    )
    h48 = (
        "CAST(conv(substring(md5(concat(toks[i-1], ' ', toks[i])),"
        " 1, 12), 16, 10) AS BIGINT)"
    )
    # 0-based: boundary BEFORE token i for i in [1, n-1]; the >=2
    # guard sits inside the expression (sequence(1, 0) descends)
    bnd = (
        f"CASE WHEN size(toks) >= 2 THEN "
        f"filter(sequence(1, size(toks) - 1), i -> {h48} % {_CDC_DIV} = 0) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    chunk_end = "IF(j = size(starts) - 1, size(toks), starts[j+1])"
    chunks = (
        f"transform(sequence(0, size(starts) - 1), j -> struct("
        f"md5(concat_ws(' ', slice(toks, starts[j] + 1,"
        f" {chunk_end} - starts[j]))) AS fp,"
        f" CAST({chunk_end} - starts[j] AS BIGINT) AS clen))"
    )
    per = (
        staged.withColumn("starts", F.expr(f"concat(array(0), {bnd})"))
        .select("doc_id", F.explode(F.expr(chunks)).alias("c"))
        .select("doc_id", F.col("c.fp").alias("chunk_fp"), F.col("c.clen"))
    )
    return (
        per.groupBy("chunk_fp")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.max("clen").cast("long").alias("chunk_tokens"),
        )
        .where(F.col("n_docs") >= 2)
        .withColumn(
            "dup_tokens", F.expr("CAST((n_occ - 1) * chunk_tokens AS BIGINT)")
        )
        .orderBy(
            F.desc("dup_tokens"), F.desc("n_docs"), F.asc("chunk_fp")
        )
        .limit(20)
    )


_DEDUP_CDC_CHUNKS_SQL = f"""
WITH staged AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
  WHERE len({_TOKENS_DUCK}) > 0
), st AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_prepend(CAST(1 AS BIGINT),
           CASE WHEN len(toks) >= 2 THEN
             list_filter(range(2, len(toks) + 1), i ->
               CAST(('0x' || substr(md5(toks[i-1] || ' ' || toks[i]),
                     1, 12)) AS BIGINT) % {_CDC_DIV} = 0)
           ELSE [] END) AS starts
  FROM staged
), expl AS (
  SELECT doc_id, toks, n, starts,
         unnest(range(1, len(starts) + 1)) AS j
  FROM st
), ch AS (
  SELECT doc_id,
         md5(array_to_string(
           toks[starts[j] :
                CASE WHEN j = len(starts) THEN n
                     ELSE starts[j+1] - 1 END], ' ')) AS chunk_fp,
         CASE WHEN j = len(starts) THEN n ELSE starts[j+1] - 1 END
           - starts[j] + 1 AS clen
  FROM expl
)
SELECT * FROM (
  SELECT chunk_fp,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(MAX(clen) AS BIGINT) AS chunk_tokens,
         CAST((COUNT(*) - 1) * MAX(clen) AS BIGINT) AS dup_tokens
  FROM ch GROUP BY chunk_fp)
WHERE n_docs >= 2
ORDER BY dup_tokens DESC, n_docs DESC, chunk_fp
LIMIT 20
"""


QUERIES = {
    "txt_tokenizer_fertility": QuerySpec(
        txt_tokenizer_fertility,
        _TXT_TOKENIZER_FERTILITY_SQL,
        ("text", "tokenizer", "fertility", "multilingual"),
    ),
    "dedup_cdc_chunks": QuerySpec(
        dedup_cdc_chunks,
        _DEDUP_CDC_CHUNKS_SQL,
        ("dedup", "cdc", "chunking", "storage"),
    ),
    "samp_dsir_importance": QuerySpec(
        samp_dsir_importance,
        _samp_dsir_sql(),
        ("sampling", "curation", "dsir", "importance"),
    ),
    "dedup_passage_overlap": QuerySpec(
        dedup_passage_overlap,
        _DEDUP_PASSAGE_OVERLAP_SQL,
        ("dedup", "passage", "containment"),
    ),
    "ml_naive_bayes": QuerySpec(
        ml_naive_bayes,
        _ml_naive_bayes_sql(),
        ("ml", "text", "classifier", "langid"),
    ),
    "dedup_passage_runs": QuerySpec(
        dedup_passage_runs,
        _DEDUP_PASSAGE_RUNS_SQL,
        ("dedup", "passage", "memorization"),
    ),
    "txt_unicode_nfc_audit": QuerySpec(
        txt_unicode_nfc_audit,
        _TXT_NFC_SQL,
        ("text", "unicode", "normalization"),
    ),
    "txt_token_count_arrow": QuerySpec(
        txt_token_count_arrow,
        _TXT_TOKEN_COUNT_ARROW_SQL,
        ("text", "arrow", "mapInArrow"),
    ),
    "txt_bpe_train_step": QuerySpec(
        txt_bpe_train_step,
        _TXT_BPE_TRAIN_SQL,
        ("text", "bpe", "tokenizer-training"),
    ),
    "txt_bpe_merge_rounds": QuerySpec(
        txt_bpe_merge_rounds,
        _bpe_rounds_sql(),
        ("text", "bpe", "tokenizer-training"),
    ),
    "txt_keyphrase_textrank": QuerySpec(
        txt_keyphrase_textrank,
        _textrank_sql(),
        ("text", "keywords", "textrank"),
    ),
    "sketch_cms_heavy": QuerySpec(
        sketch_cms_heavy, _cms_sql(), ("sketch", "frequency", "cms")
    ),
    "txt_zipf_check": QuerySpec(
        txt_zipf_check, _TXT_ZIPF_CHECK_SQL, ("text", "statistics", "zipf")
    ),
    "ml_chi2_feature_select": QuerySpec(
        ml_chi2_feature_select,
        _ML_CHI2_FEATURE_SELECT_SQL,
        ("ml", "text", "feature-selection"),
    ),
    "txt_rake_keywords": QuerySpec(
        txt_rake_keywords, _TXT_RAKE_KEYWORDS_SQL, ("text", "keywords", "rake")
    ),
    "txt_readability": QuerySpec(
        txt_readability, _TXT_READABILITY_SQL, ("text", "quality")
    ),
    "ml_feature_hashing": QuerySpec(
        ml_feature_hashing, _ML_FEATURE_HASHING_SQL, ("ml", "text", "hashing")
    ),
    "sketch_freq_heavy": QuerySpec(
        sketch_freq_heavy, _SKETCH_FREQ_HEAVY_SQL, ("sketch", "heavy-hitters")
    ),
    "txt_hapax_stats": QuerySpec(
        txt_hapax_stats, _TXT_HAPAX_STATS_SQL, ("text", "vocabulary")
    ),
    "txt_vocab_coverage": QuerySpec(
        txt_vocab_coverage,
        _TXT_VOCAB_COVERAGE_SQL,
        ("text", "vocabulary", "tokenizer"),
    ),
    "txt_bigram_prob": QuerySpec(
        txt_bigram_prob, _TXT_BIGRAM_PROB_SQL, ("text", "lm", "quality")
    ),
    "txt_doc_perplexity": QuerySpec(
        txt_doc_perplexity,
        _txt_doc_perplexity_sql(),
        ("text", "lm", "quality", "perplexity"),
    ),
    "txt_pmi_pairs": QuerySpec(
        txt_pmi_pairs, _TXT_PMI_PAIRS_SQL, ("text", "collocations")
    ),
    "txt_code_detect": QuerySpec(
        txt_code_detect, _TXT_CODE_DETECT_SQL, ("text", "router", "quality")
    ),
    "txt_extractive_summary": QuerySpec(
        txt_extractive_summary,
        _TXT_EXTRACTIVE_SUMMARY_SQL,
        ("text", "summarize"),
    ),
    "txt_novelty_share": QuerySpec(
        txt_novelty_share, _TXT_NOVELTY_SHARE_SQL, ("text", "novelty")
    ),
    "dedup_method_compare": QuerySpec(
        dedup_method_compare,
        _dedup_method_compare_sql(),
        ("dedup", "report"),
    ),
    "txt_token_count": QuerySpec(txt_token_count, _TXT_TOKEN_COUNT_SQL, ("text",)),
    "txt_ngram_stats": QuerySpec(
        txt_ngram_stats, _TXT_NGRAM_STATS_SQL, ("text", "topk")
    ),
    "txt_rolling_hash": QuerySpec(
        txt_rolling_hash, _TXT_ROLLING_HASH_SQL, ("text", "fingerprint")
    ),
    "txt_winnowing": QuerySpec(
        txt_winnowing, _TXT_WINNOWING_SQL, ("text", "fingerprint", "winnowing")
    ),
    "txt_bpe_tokens": QuerySpec(txt_bpe_tokens, _TXT_BPE_TOKENS_SQL, ("text",)),
    "txt_quality_score": QuerySpec(
        txt_quality_score, _TXT_QUALITY_SCORE_SQL, ("text",)
    ),
    "txt_repetition_filter": QuerySpec(
        txt_repetition_filter, _TXT_REPETITION_FILTER_SQL, ("text", "gopher")
    ),
    "txt_langid": QuerySpec(txt_langid, _TXT_LANGID_SQL, ("text",)),
    "txt_fingerprint": QuerySpec(txt_fingerprint, _TXT_FINGERPRINT_SQL, ("text",)),
    "txt_pii_redact": QuerySpec(
        txt_pii_redact, _TXT_PII_REDACT_SQL, ("text", "compliance")
    ),
    "dedup_exact": QuerySpec(dedup_exact, _DEDUP_EXACT_SQL, ("dedup",)),
    "dedup_ngram_jaccard": QuerySpec(
        dedup_ngram_jaccard, _DEDUP_NGRAM_JACCARD_SQL, ("dedup",)
    ),
    "dedup_ngram_prefix": QuerySpec(
        dedup_ngram_prefix, _DEDUP_NGRAM_PREFIX_SQL, ("dedup", "prefix-filter")
    ),
    "dedup_containment": QuerySpec(
        dedup_containment, _DEDUP_CONTAINMENT_SQL, ("dedup", "containment")
    ),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_lsh, _DEDUP_MINHASH_LSH_SQL, ("dedup", "lsh")
    ),
    "dedup_incremental_lsh": QuerySpec(
        dedup_incremental_lsh, _DEDUP_INCREMENTAL_LSH_SQL, ("dedup", "lsh", "incremental")
    ),
    "dedup_simhash": QuerySpec(dedup_simhash, _DEDUP_SIMHASH_SQL, ("dedup",)),
}
