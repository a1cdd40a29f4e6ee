"""I/O-shaped operators (SURVEY.md §2 P7): the rate-limited HTTP fetch
stage, the HTML→rows extraction UDTF, and the page-accessibility
predicate — the reference's three non-relational operators
(src_http_fetch seed via step2_attempt1.py:121-124 /
step3_attempt1.py:516-524; html_extract step3_attempt1.py:226-275;
flt_accessible helper_functions.py:82-113).

No network exists in this environment, so the TRANSPORT is a
deterministic fake (status/body derived from the key), but everything
the engine is responsible for is real:

- ``mapInPandas`` fetch stage with a PER-PARTITION token bucket
  (helper_functions.py:23-38 backoff semantics are a transport retry;
  the engine-side contract is "never more than R requests/sec per
  partition", enforced here with a monotonic-clock bucket — never
  per-row sleeps).
- HTML parsing to a DOM-node table with regex extraction in Arrow
  batches (bs4 is unavailable; the node grammar below is regular, and
  a real lxml parser would slot into the same batch signature).
- Accessibility rules: HEAD 200 + content-length > 0 + non-document
  extension, with GET fallback on 405/501/202.

Because the fakes are pure functions of the input keys, all three ops
keep exact DuckDB oracles — the Python stages are verified end-to-end,
not just smoke-tested.
"""

from __future__ import annotations

import re
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import cents
from ..functions.session_cache import dataset_fingerprint, front, staging_path
from ..registry import QuerySpec
from ..sources.tables import load_table

_TOKENS_DUCK_IO = r"regexp_extract_all(text, '\S+')"


class TokenBucket:
    """Per-partition rate limiter: ``rate`` tokens/sec, burst ``burst``.
    One instance per task (created inside the mapInPandas closure), so
    a 1000-partition job fetches at <= 1000*rate req/s cluster-wide —
    the distributed-safe version of the reference's sleep+backoff."""

    def __init__(self, rate: float, burst: int) -> None:
        self.rate = rate
        self.capacity = float(burst)
        self.tokens = float(burst)
        self.last = time.monotonic()

    def acquire(self, n: int = 1) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= n:
                self.tokens -= n
                return
            time.sleep((n - self.tokens) / self.rate)


def _fake_transport(url: str, key: int) -> tuple[int, str]:
    """Deterministic stand-in for requests.get: status from the key,
    body synthesized from the url slug."""
    status = 404 if key % 7 == 0 else 200
    slug = url.split("//")[1].split(".")[0]
    body = (
        f'<html><body><div class="portfolio-grid">'
        f'<a href="https://{slug}.com.au/companies/alpha">Alpha</a>'
        f'<img src="https://cdn.{slug}.com.au/logos/alpha.png"/>'
        f"</div></body></html>"
    )
    return status, body if status == 200 else ""


# ---------------------------------------------------------------------------
# io_http_fetch — rate-limited fetch stage
# ---------------------------------------------------------------------------

def io_http_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch stage over supplier candidate URLs: mapInPandas with a
    per-partition TokenBucket (500 req/s here so tests stay fast; the
    production rate is a config). Output is (key, url, status,
    content_length, ok) — body bytes stay in the stage unless a
    downstream parse needs them (column pruning for I/O)."""
    s = load_table(spark, sf_dir, "supplier")
    urls = s.select(
        "s_suppkey",
        F.concat(
            F.lit("https://"),
            F.lower(F.regexp_replace("s_name", r"[^A-Za-z0-9]", "")),
            F.lit(".com.au/portfolio"),
        ).alias("url"),
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # burst = one second of the configured rate (standard bucket
        # sizing): a cold bucket then never throttles a partition wave
        # smaller than the rate itself, so the stage's cost tracks the
        # transport, not the partition layout (r5 bench regression
        # suspect — VERDICT r5 'Next round' #3)
        bucket = TokenBucket(rate=500.0, burst=500)
        for pdf in batches:
            statuses, lengths = [], []
            for key, url in zip(pdf["s_suppkey"], pdf["url"]):
                bucket.acquire()
                status, body = _fake_transport(url, int(key))
                statuses.append(status)
                lengths.append(len(body))
            yield pd.DataFrame(
                {
                    "s_suppkey": pdf["s_suppkey"],
                    "url": pdf["url"],
                    "status": pd.Series(statuses, dtype="int64"),
                    "content_length": pd.Series(lengths, dtype="int64"),
                    "ok": pd.Series([st == 200 for st in statuses], dtype="bool"),
                }
            )

    return urls.mapInPandas(
        fetch,
        schema="s_suppkey long, url string, status long, content_length long, ok boolean",
    )


_IO_HTTP_FETCH_SQL = """
WITH u AS (
  SELECT s_suppkey,
         lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g')) AS slug
  FROM supplier
)
SELECT s_suppkey,
       'https://' || slug || '.com.au/portfolio' AS url,
       CAST(CASE WHEN s_suppkey % 7 = 0 THEN 404 ELSE 200 END AS BIGINT) AS status,
       CAST(CASE WHEN s_suppkey % 7 = 0 THEN 0 ELSE
         length('<html><body><div class="portfolio-grid">'
                || '<a href="https://' || slug || '.com.au/companies/alpha">Alpha</a>'
                || '<img src="https://cdn.' || slug || '.com.au/logos/alpha.png"/>'
                || '</div></body></html>') END AS BIGINT) AS content_length,
       s_suppkey % 7 != 0 AS ok
FROM u
"""


# ---------------------------------------------------------------------------
# html_extract — HTML → DOM-node table (UDTF shape)
# ---------------------------------------------------------------------------

_CLASS_RE = re.compile(r'<(\w+)[^>]*\bclass="([^"]*)"[^>]*>')
_HREF_RE = re.compile(r'<a\s[^>]*href="([^"]*)"')
_SRC_RE = re.compile(r'<img\s[^>]*src="([^"]*)"')
_DOMAIN_RE = re.compile(r"^https?://(?:www\.)?([^/]+)")


def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→rows (step3_attempt1.py:226-275: per element with a class
    attr, first link href domain + first img src domain): synthesized
    per-supplier pages parsed in Arrow batches, one output row per
    classed element. The reference's card-signal table."""
    s = load_table(spark, sf_dir, "supplier")
    slug = F.lower(F.regexp_replace("s_name", r"[^A-Za-z0-9]", ""))
    html = F.concat(
        F.lit('<html><body><div class="portfolio-grid cards">'),
        F.lit('<a href="https://'),
        slug,
        F.lit('.com.au/companies/alpha">Alpha Co</a>'),
        F.lit('<img src="https://cdn.'),
        slug,
        F.lit('.com.au/logos/a.png"/></div>'),
        F.lit('<footer class="site-footer"><a href="https://example.org/about">x</a></footer>'),
        F.lit("</body></html>"),
    )
    pages = s.select("s_suppkey", html.alias("html"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, tags, classes, link_doms, img_doms = [], [], [], [], []
            for key, doc in zip(pdf["s_suppkey"], pdf["html"]):
                for m in _CLASS_RE.finditer(doc):
                    tag, cls = m.group(1), m.group(2)
                    rest = doc[m.end():]
                    href = _HREF_RE.search(rest)
                    src = _SRC_RE.search(rest)
                    ld = _DOMAIN_RE.match(href.group(1)) if href else None
                    im = _DOMAIN_RE.match(src.group(1)) if src else None
                    keys.append(int(key))
                    tags.append(tag)
                    classes.append(cls)
                    link_doms.append(ld.group(1) if ld else "")
                    img_doms.append(im.group(1) if im else "")
            yield pd.DataFrame(
                {
                    "s_suppkey": pd.Series(keys, dtype="int64"),
                    "tag": tags,
                    "class_string": classes,
                    "link_domain": link_doms,
                    "img_domain": img_doms,
                }
            )

    return pages.mapInPandas(
        parse,
        schema=(
            "s_suppkey long, tag string, class_string string, "
            "link_domain string, img_domain string"
        ),
    )


_HTML_EXTRACT_SQL = """
WITH u AS (
  SELECT s_suppkey,
         lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g')) AS slug
  FROM supplier
)
SELECT s_suppkey, 'div' AS tag, 'portfolio-grid cards' AS class_string,
       slug || '.com.au' AS link_domain,
       'cdn.' || slug || '.com.au' AS img_domain
FROM u
UNION ALL
SELECT s_suppkey, 'footer', 'site-footer', 'example.org', ''
FROM u
"""


# ---------------------------------------------------------------------------
# html_extract_names — step3_attempt2: <a> text → img alt → <figcaption>
# ---------------------------------------------------------------------------

_A_TEXT_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S)
_IMG_ALT_RE = re.compile(r'<img\b[^>]*\balt="([^"]*)"')
_FIGCAP_RE = re.compile(r"<figcaption>(.*?)</figcaption>", re.S)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def _norm_text(s: str) -> str:
    """step3_attempt1.py:36-41 _norm: collapse whitespace, trim."""
    return _WS_RE.sub(" ", s or "").strip()


def html_extract_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """step3_attempt2.py:34-46 name extraction: within the chosen
    card class, take <a> inner texts as names; if none, <img> alt
    texts; if none, <figcaption> texts. The extraction rank couples
    the method to the step2 class rank — A/B/C for methods 1/2/3
    within class ranks A-B, D/E/F within class ranks C-E — so this is
    the operator that makes ranks E and F live (rank_points E→2, F→1,
    .portCo_research.py:45-50). Card classes are ranked with the REAL
    step2 expression (reference_scalars.html_class_rank), not a
    synthesized rank; the UDTF (mapInPandas, 1 page → N names) only
    extracts (method, name) and the rank coupling stays declarative
    JVM-side. Names are _norm-collapsed (step3_attempt1.py:36-41)."""
    from ..functions.resolution import rank_points
    from .reference_scalars import _rank_expr

    s = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    name = F.concat(F.lit("Co "), k.cast("string"))
    cls = F.when(k % 2 == 0, "portfolio-grid cards").otherwise("logo-wall grid")
    inner = (
        # method 1: two anchors (inner text, with markup + messy
        # whitespace the extractor must strip)
        F.when(
            k % 3 == 0,
            F.concat(
                F.lit('<a href="/companies/x"><span>'),
                name,
                F.lit("  One</span></a><a href=\"/companies/y\">"),
                name,
                F.lit(" Two</a>"),
            ),
        )
        # method 2: no anchors; img alt (plus a figcaption that must
        # NOT be reached because img wins)
        .when(
            k % 3 == 1,
            F.concat(
                F.lit('<img src="/logos/x.png" alt="'),
                name,
                F.lit(' Logo"/><figcaption>shadowed</figcaption>'),
            ),
        )
        # method 3: figcaption only
        .otherwise(F.concat(F.lit("<span>x</span><figcaption>"), name, F.lit(" Cap</figcaption>")))
    )
    pages = s.select(
        "s_suppkey",
        cls.alias("card_class"),
        F.concat(F.lit('<div class="'), cls, F.lit('">'), inner, F.lit("</div>")).alias(
            "html"
        ),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, classes, methods, names = [], [], [], []
            for key, card_class, doc in zip(
                pdf["s_suppkey"], pdf["card_class"], pdf["html"]
            ):
                found = [
                    (1, _norm_text(_TAG_RE.sub(" ", t)))
                    for t in _A_TEXT_RE.findall(doc)
                ]
                found = [(m, n) for m, n in found if n]
                if not found:
                    found = [
                        (2, _norm_text(t)) for t in _IMG_ALT_RE.findall(doc)
                    ]
                    found = [(m, n) for m, n in found if n]
                if not found:
                    found = [
                        (3, _norm_text(t)) for t in _FIGCAP_RE.findall(doc)
                    ]
                    found = [(m, n) for m, n in found if n]
                for method, nm in found:
                    keys.append(int(key))
                    classes.append(card_class)
                    methods.append(method)
                    names.append(nm)
            yield pd.DataFrame(
                {
                    "s_suppkey": pd.Series(keys, dtype="int64"),
                    "card_class": classes,
                    "method_used": pd.Series(methods, dtype="int64"),
                    "name": names,
                }
            )

    extracted = pages.mapInPandas(
        extract,
        schema="s_suppkey long, card_class string, method_used long, name string",
    )
    toks = F.transform(F.split("card_class", " "), F.lower)
    ranked = extracted.withColumn("class_rank_used", _rank_expr(toks))
    high = F.col("class_rank_used").isin("A", "B")
    m = F.col("method_used")
    extraction_rank = (
        F.when(high & (m == 1), "A")
        .when(high & (m == 2), "B")
        .when(high & (m == 3), "C")
        .when(m == 1, "D")
        .when(m == 2, "E")
        .otherwise("F")
    )
    return ranked.select(
        "s_suppkey",
        "name",
        "method_used",
        "class_rank_used",
        extraction_rank.alias("extraction_rank"),
        rank_points(extraction_rank).alias("points"),
    )


def _html_extract_names_sql() -> str:
    from .reference_scalars import _rank_sql_duck

    return f"""
WITH u AS (
  SELECT s_suppkey, 'Co ' || CAST(s_suppkey AS VARCHAR) AS nm,
         CASE WHEN s_suppkey % 2 = 0 THEN 'portfolio-grid cards'
              ELSE 'logo-wall grid' END AS card_class
  FROM supplier
), names AS (
  SELECT s_suppkey, card_class, 1 AS method_used, nm || ' One' AS name
  FROM u WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT s_suppkey, card_class, 1, nm || ' Two' FROM u WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT s_suppkey, card_class, 2, nm || ' Logo' FROM u WHERE s_suppkey % 3 = 1
  UNION ALL
  SELECT s_suppkey, card_class, 3, nm || ' Cap' FROM u WHERE s_suppkey % 3 = 2
), ranked AS (
  SELECT s_suppkey, name, CAST(method_used AS BIGINT) AS method_used,
         {_rank_sql_duck()} AS class_rank_used
  FROM (SELECT *, list_transform(string_split(card_class, ' '), t -> lower(t)) AS toks
        FROM names)
), coupled AS (
  SELECT *, CASE WHEN class_rank_used IN ('A','B') THEN
                   CASE method_used WHEN 1 THEN 'A' WHEN 2 THEN 'B' ELSE 'C' END
                 ELSE
                   CASE method_used WHEN 1 THEN 'D' WHEN 2 THEN 'E' ELSE 'F' END
            END AS extraction_rank
  FROM ranked
)
SELECT s_suppkey, name, method_used, class_rank_used, extraction_rank,
       CAST(CASE extraction_rank WHEN 'A' THEN 6 WHEN 'B' THEN 5 WHEN 'C' THEN 4
                                 WHEN 'D' THEN 3 WHEN 'E' THEN 2 ELSE 1
            END AS BIGINT) AS points
FROM coupled
"""


# ---------------------------------------------------------------------------
# flt_accessible — HEAD/GET accessibility predicate
# ---------------------------------------------------------------------------

def flt_accessible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """helper_functions.py:82-113: a page is accessible iff HEAD gives
    200 with content-length > 0 and the URL is not a document
    download; on HEAD 405/501/202 fall back to GET. Statuses are
    simulated from the key; the rule composition is the operator."""
    s = load_table(spark, sf_dir, "supplier")
    head_status = (
        F.when(F.col("s_suppkey") % 11 == 0, 404)
        .when(F.col("s_suppkey") % 11 == 1, 405)
        .when(F.col("s_suppkey") % 11 == 2, 501)
        .when(F.col("s_suppkey") % 11 == 3, 202)
        .otherwise(200)
        .cast("long")
    )
    get_status = (
        F.when(F.col("s_suppkey") % 3 == 0, 404).otherwise(200).cast("long")
    )
    content_len = (F.col("s_suppkey") % 5 * 1000).cast("long")
    is_doc = F.col("s_suppkey") % 13 == 0  # stands in for .pdf/.docx URLs
    needs_get = head_status.isin(405, 501, 202)
    effective = F.when(needs_get, get_status).otherwise(head_status)
    accessible = (
        (effective == 200) & (content_len > 0) & ~is_doc
    )
    return s.select(
        "s_suppkey",
        head_status.alias("head_status"),
        F.when(needs_get, get_status).alias("get_status"),
        content_len.alias("content_length"),
        is_doc.alias("is_document_url"),
        accessible.alias("accessible"),
    )


_FLT_ACCESSIBLE_SQL = """
WITH t AS (
  SELECT s_suppkey,
         CAST(CASE WHEN s_suppkey % 11 = 0 THEN 404
                   WHEN s_suppkey % 11 = 1 THEN 405
                   WHEN s_suppkey % 11 = 2 THEN 501
                   WHEN s_suppkey % 11 = 3 THEN 202
                   ELSE 200 END AS BIGINT) AS head_status,
         CAST(CASE WHEN s_suppkey % 3 = 0 THEN 404 ELSE 200 END AS BIGINT) AS get_raw,
         CAST(s_suppkey % 5 * 1000 AS BIGINT) AS content_length,
         s_suppkey % 13 = 0 AS is_document_url
  FROM supplier
)
SELECT s_suppkey, head_status,
       CASE WHEN head_status IN (405, 501, 202) THEN get_raw END AS get_status,
       content_length, is_document_url,
       ((CASE WHEN head_status IN (405, 501, 202) THEN get_raw
              ELSE head_status END) = 200
        AND content_length > 0 AND NOT is_document_url) AS accessible
FROM t
"""


# ---------------------------------------------------------------------------
# portco_pipeline_e2e — the composed main_portCo dataflow
# ---------------------------------------------------------------------------

def portco_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full portCo identification pipeline as ONE dataflow
    (main_portCo.py:33-138): fetch the firm's portfolio page (drop
    firms whose fetch fails — 'skip to next PE firm'), extract
    candidate names via the step2-class + step3_attempt2 chain
    (html_extract_names, which itself composes html_class_rank),
    dedup per (firm, normalized name) keeping the best extraction
    (points desc, method asc — step3_attempt1.py:497-504's
    sort-then-keep-first), then collect the survivors into one nested
    row per firm (main_portCo.py:115-122's results document; portcos
    serialized sorted by rank-then-name so the value hash is
    representation-stable, the agg_collect_nested convention).

    Each stage is the REAL registry operator, not a re-implementation
    — this entry exists to prove the operators compose."""
    from pyspark.sql import Window as W

    fetched = io_http_fetch(spark, sf_dir).where(F.col("ok"))
    names = html_extract_names(spark, sf_dir)
    candidates = fetched.select("s_suppkey", "url").join(names, "s_suppkey")
    dedup_w = W.partitionBy("s_suppkey", F.lower("name")).orderBy(
        F.desc("points"), F.asc("method_used")
    )
    best = (
        candidates.withColumn("rn", F.row_number().over(dedup_w))
        .where(F.col("rn") == 1)
    )
    portco = F.concat(
        F.col("extraction_rank"), F.lit(":"), F.col("name")
    )
    return (
        best.groupBy("s_suppkey", "url")
        .agg(
            F.count(F.lit(1)).alias("n_portcos"),
            F.max("points").alias("best_points"),
            F.array_join(F.array_sort(F.collect_list(portco)), "|").alias(
                "portcos"
            ),
        )
    )


def _portco_pipeline_e2e_sql() -> str:
    return f"""
WITH fetched AS (
  SELECT s_suppkey,
         'https://' || lower(regexp_replace(s_name, '[^A-Za-z0-9]', '', 'g'))
           || '.com.au/portfolio' AS url
  FROM supplier WHERE s_suppkey % 7 != 0
), names AS ({_html_extract_names_sql()}
), best AS (
  SELECT f.s_suppkey, f.url, n.name, n.extraction_rank, n.points
  FROM fetched f JOIN (
    SELECT *, row_number() OVER (PARTITION BY s_suppkey, lower(name)
                                 ORDER BY points DESC, method_used) AS rn
    FROM names) n
    ON f.s_suppkey = n.s_suppkey
  WHERE n.rn = 1
)
SELECT s_suppkey, url, COUNT(*) AS n_portcos, MAX(points) AS best_points,
       array_to_string(list_sort(list(extraction_rank || ':' || name)), '|')
         AS portcos
FROM best GROUP BY s_suppkey, url
"""


# ---------------------------------------------------------------------------
# snk_partition_overwrite — dynamic single-partition backfill
# ---------------------------------------------------------------------------

_BACKFILL_DAY = 19723  # 2024-01-01: the fixture's first event day at every sf


def snk_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse backfill primitive:
    against the standing day-partitioned events table (a staged input
    fixture, landed once per application and dataset by
    `_staged_sink_input`, not by this entry), re-land ONE day (a
    'correction' keeping only that day's purchases) with
    partitionOverwriteMode=dynamic, which replaces exactly the
    partitions present in the incoming frame and leaves every other
    day's files untouched. The static default would wipe the whole
    table — the difference between an O(day) and an O(table) backfill
    at 100 TB. The entry's work is that one-day overwrite plus the
    read-back; the conf is scoped save/restore, and the read-back
    aggregate gives the entry a compact exact oracle and also proves
    the untouched days survived."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_us div 86400000000").alias("day"),
    )
    # re-running the correction against the already-corrected table
    # is idempotent (same day replaced with the same deterministic
    # rows), so reusing the staged table never changes the result
    out = _staged_sink_input(
        spark,
        sf_dir,
        "dynpart",
        lambda p: ev.write.mode("overwrite").partitionBy("day").parquet(p),
    )
    corrected = ev.where(
        (F.col("day") == _BACKFILL_DAY) & (F.col("event_type") == "purchase")
    )
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set(conf, prev)
    back = spark.read.parquet(out)
    return (
        back.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("day").cast("long").alias("day"), "n_events")
    )


_SNK_PARTITION_OVERWRITE_SQL = f"""
SELECT day, COUNT(*) AS n_events FROM (
  SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day, event_type
  FROM events
)
WHERE day != {_BACKFILL_DAY} OR event_type = 'purchase'
GROUP BY day
"""


# ---------------------------------------------------------------------------
# src_corrupt_tolerant — PERMISSIVE ingest with quarantine accounting
# ---------------------------------------------------------------------------

# The planted feed: well-formed records interleaved with the three
# classic corruptions a real crawler log contains — truncated JSON,
# a type clash on a declared column, and plain garbage. The file is
# BYTE-DETERMINISTIC, so the expected outcome is a closed-form
# VALUES-literal oracle (the right oracle shape for I/O-tolerance
# entries: the result is decided by the contract, not by a query
# over fixture tables).
_CORRUPT_FEED = [
    '{"rec_id": 1, "status": "ok", "score": 10}',
    '{"rec_id": 2, "status": "ok", "score": 20}',
    '{"rec_id": 3, "status": "degraded", "score"',  # truncated mid-key
    '{"rec_id": "not-a-number", "status": "ok", "score": 30}',  # type clash
    "complete garbage, not even json",
    '{"rec_id": 6, "status": "degraded", "score": 60}',
]


def src_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant ingest — the contract every crawler/vendor feed
    needs: PERMISSIVE JSON scan with a declared schema plus
    columnNameOfCorruptRecord, so malformed lines become quarantine
    rows (_corrupt_record carries the original bytes) instead of
    killing the job (FAILFAST) or silently vanishing (DROPMALFORMED).
    A JSON-valid line whose value clashes with the declared type
    ('not-a-number' for a BIGINT) stays a GOOD row with that one
    field nulled — quarantine is reserved for lines that do not parse
    at all; per-field tolerance, not per-row.
    The entry returns the triage a pipeline actually acts on: per
    status, good-row count/score plus the quarantined count. At
    100 TB this is the first stage after the raw landing zone; the
    quarantine column routes to a dead-letter table."""
    import os

    feed_dir = staging_path(spark, sf_dir, "corrupt_feed")
    os.makedirs(feed_dir, exist_ok=True)
    with open(os.path.join(feed_dir, "feed.jsonl"), "w") as f:
        f.write("\n".join(_CORRUPT_FEED) + "\n")
    raw = (
        spark.read.schema(
            "rec_id BIGINT, status STRING, score BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(feed_dir)
    )
    return raw.groupBy(
        F.coalesce("status", F.lit("<quarantined>")).alias("status")
    ).agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count("_corrupt_record").alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("score"))).alias(
            "sum_score"
        ),
    )


# Closed-form oracle: lines 1,2 clean-ok; 4 good-ok with rec_id
# nulled (JSON-valid, type clash on one field); 6 clean-degraded;
# 3 and 5 unparseable -> the quarantine bucket.
_SRC_CORRUPT_TOLERANT_SQL = """
SELECT * FROM (VALUES
  ('ok', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(60 AS BIGINT)),
  ('degraded', CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(60 AS BIGINT)),
  ('<quarantined>', CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(NULL AS BIGINT))
) AS t(status, n_good, n_quarantined, sum_score)
"""


# ---------------------------------------------------------------------------
# snk_compact_files — small-file compaction (lake maintenance)
# ---------------------------------------------------------------------------

# Input-fixture staging for the maintenance sinks: the fragmented
# layout snk_compact_files compacts, the standing table
# snk_partition_overwrite backfills, and the pristine landing
# snk_retention_vacuum clones are the MESS/TABLE the op acts on —
# input fixturing (the analogue of the parquet dataset itself), not
# the declared work, the same staging class as
# streaming/windows._prepare_input. Each is a front, so it is staged
# once per (application, dataset) and rebuilt on any dataset rewrite.
# The declared maintenance job — compaction shuffle+write,
# dynamic-overwrite backfill, vacuum deletes + read-back proof — still
# runs on EVERY invocation.
def _staged_sink_input(spark: SparkSession, sf_dir: str, kind: str, write) -> str:
    """The "sink_input" front ``kind``: ``write(path)`` runs once per
    (application, dataset) into ``staging_path(spark, sf_dir, kind)``;
    later calls reuse the on-disk layout."""

    def build() -> str:
        path = staging_path(spark, sf_dir, kind)
        write(path)
        return path

    return front(spark, sf_dir, "sink_input", build, kind)


def snk_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION — the nightly maintenance op of every
    streaming-fed lake: a fragmented day-partitioned events dir (64
    writer tasks × N days of files, the shape micro-batch sinks
    produce) is rewritten with one shuffle on the partition key so
    each day lands as a single right-sized file. Readers go from
    opening hundreds of footers per day to one; at 100 TB the same
    plan adds spark.sql.files.maxRecordsPerFile to split oversized
    days. The read-back per-day aggregate doubles as the exact oracle
    (compaction must never change content) and
    tests/test_sinks.py::test_compaction_reduces_file_count pins the
    physical file counts before/after."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_us div 86400000000").alias("day"),
    )
    compacted = staging_path(spark, sf_dir, "compact")
    # the fragmented layout a 64-task writer produces — input-fixture
    # staging (written once per app+dataset, see _staged_sink_input):
    # the ~64 x days file creations are the mess being cleaned up,
    # not the compaction job's own cost
    frag = _staged_sink_input(
        spark,
        sf_dir,
        "frag",
        lambda p: ev.repartition(64)
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(p),
    )
    # the compaction job: one shuffle on day -> one file per day
    (
        spark.read.parquet(frag)
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(compacted)
    )
    back = spark.read.parquet(compacted)
    return (
        back.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("day").cast("long").alias("day"), "n_events")
    )


_SNK_COMPACT_FILES_SQL = """
SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day, COUNT(*) AS n_events
FROM events
GROUP BY day
"""


_KWIC_KEYWORD = "spark"


def udtf_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context via a NATIVE Python UDTF (Spark 4
    ``@udtf``, Arrow-batched, consumed with a LATERAL join) — the
    1→N surface the reference's HTML extractor uses mapInPandas for
    (html_extract above), here exercised through the first-class API:
    for every occurrence of the keyword in a document, one row with
    its token position and the neighboring tokens (NULL at the
    edges). Python is confined to the generator body; the planner
    sees an ordinary Generate over the scanned rows, so pruning and
    the lateral join shape are unchanged.

    Scale: the UDTF streams Arrow batches and emits O(occurrences)
    rows — no state, no shuffle; the only exchange in the plan is
    whatever the consumer adds."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: long, left_tok: string, right_tok: string",
          useArrow=True)
    class Kwic:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split()
            for i, t in enumerate(toks):
                if t == _KWIC_KEYWORD:
                    yield (
                        i,
                        toks[i - 1] if i > 0 else None,
                        toks[i + 1] if i + 1 < len(toks) else None,
                    )

    spark.udtf.register("pe_kwic", Kwic)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "pe_kwic_docs"
    )
    return spark.sql(
        "SELECT doc_id, s.pos, s.left_tok, s.right_tok "
        "FROM pe_kwic_docs, LATERAL pe_kwic(text) s"
    )


# DuckDB twin: 1-based list indexing returns NULL out of range, which
# matches the UDTF's explicit edge handling; Python str.split() on
# whitespace == regexp_extract_all(\S+).
_UDTF_KWIC_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_DUCK_IO} AS toks FROM documents
), o AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t
)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
       toks[i - 1] AS left_tok, toks[i + 1] AS right_tok
FROM o WHERE toks[i] = '{_KWIC_KEYWORD}'
"""


def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lake reality that column sets
    drift across ingest batches: an old batch written WITHOUT the
    ``lang`` column and a new batch WITH it land in one dataset;
    ``mergeSchema`` reconciles the footers and the old batch's rows
    surface with lang NULL. The read-back aggregate (docs + chars per
    lang, NULL bucket included) is exact against the source view, so
    the evolution round-trip provably loses nothing. At 100 TB the
    same read uses the metastore-declared superset schema instead of
    footer merging — the NULL-fill semantics are identical."""
    import os

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    root = staging_path(spark, sf_dir, "evo")
    # old ingest batch: even doc_ids, pre-evolution schema (no lang)
    d.where("doc_id % 2 = 0").drop("lang").write.mode("overwrite").parquet(
        os.path.join(root, "batch=old")
    )
    # new ingest batch: odd doc_ids, evolved schema
    d.where("doc_id % 2 = 1").write.mode("overwrite").parquet(
        os.path.join(root, "batch=new")
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch=old"), os.path.join(root, "batch=new")
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_SRC_SCHEMA_EVOLUTION_SQL = """
SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
"""


_Z_BITS = 8


def _z_interleave_sql(xcol: str, ycol: str) -> str:
    """Bit-interleave two _Z_BITS-wide ints into a Z-order key —
    plain shifts and masks, identical in Spark and DuckDB."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xcol} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ycol} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_PYDS_N = 10_000
_PYDS_PARTS = 8


def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom CONNECTOR through Spark 4's Python DataSource API —
    the extension point the reference's browser-stream producer
    would plug into today (reference: pipeline/seed_aic.py:104-156
    captures an external feed; here the feed is a deterministic
    generator so the oracle is closed-form). The source plans
    _PYDS_PARTS InputPartitions, each worker generates its strided
    slice independently (no driver materialization, no skew), and
    rows carry an md5 payload so content — not just counts — is
    verified. Downstream is a plain aggregate: the connector output
    behaves like any other scan (prunable, partitioned, AQE-sized).

    The reader is Arrow-batched by the runtime; at 100 TB the same
    class shape wraps any external system that can enumerate
    partition descriptors (files, shards, topic partitions)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _FeedReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", _PYDS_N))
            self.parts = int(options.get("parts", _PYDS_PARTS))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, part):
            import hashlib

            for i in range(part.value, self.n, self.parts):
                yield (
                    i,
                    hashlib.md5(str(i).encode()).hexdigest(),
                    i * i,
                )

    class _FeedSource(DataSource):
        @classmethod
        def name(cls):
            return "pe_feed"

        def schema(self):
            return "rec_id bigint, payload_md5 string, sq bigint"

        def reader(self, schema):
            return _FeedReader(self.options)

    # re-registration in the same session is a cheap overwrite
    spark.dataSource.register(_FeedSource)
    feed = (
        spark.read.format("pe_feed")
        .option("n", str(_PYDS_N))
        .option("parts", str(_PYDS_PARTS))
        .load()
    )
    return feed.groupBy((F.col("rec_id") % 16).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").alias("sum_sq"),
        F.min("payload_md5").alias("min_md5"),
    )


_SRC_PYTHON_DATASOURCE_SQL = f"""
WITH feed AS (
  SELECT i AS rec_id, md5(CAST(i AS VARCHAR)) AS payload_md5,
         i * i AS sq
  FROM (SELECT unnest(range(0, {_PYDS_N})) AS i)
)
SELECT rec_id % 16 AS bucket, COUNT(*) AS n,
       CAST(SUM(sq) AS BIGINT) AS sum_sq, MIN(payload_md5) AS min_md5
FROM feed GROUP BY 1
"""


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange — the second columnar format a lake actually
    meets (Hive-era tables, vendor exports): orders are written as
    ORC with exact integer cents, read BACK through the ORC reader,
    and aggregated per status. The oracle runs the same aggregate off
    the parquet source view, so the round-trip certifies the format
    conversion preserved every row and the cents column exactly.
    ORC's reader supports the same pushdown/pruning surface as
    parquet in Spark, so the plan shape is unchanged — the entry
    exists to prove the FORMAT boundary, not a new operator."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    out = staging_path(spark, sf_dir, "orc")
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_c").alias("sum_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_SRC_ORC_ROUNDTRIP_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
"""


def src_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text interchange — the rawest ingest format a
    corpus pipeline meets (log shipping, one-doc-per-line dumps):
    documents are exported as tab-prefixed lines (doc_id TAB text;
    rows whose text contains a tab or newline are excluded IN-PLAN on
    both twins — the line format cannot carry them, and relying on the
    fixture being control-character-free left the round-trip one
    fixture regeneration away from silent corruption), read BACK
    through ``spark.read.text`` — one string column, the reader every
    other format builds on — re-parsed with JVM-side split/cast, and
    summarized per parsed id bucket. The oracle runs the same parse
    off the documents view, so the round-trip certifies the text
    boundary loses nothing (including empty documents, which survive
    as 'id<TAB>' lines). Text scans split by line ranges at 100 TB —
    same parallelism surface as any other file source."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(~F.col("text").rlike("[\\t\\n\\r]"))
        .select(
            F.expr("concat(CAST(doc_id AS STRING), '\\t', text)").alias("value")
        )
    )
    out = staging_path(spark, sf_dir, "text")
    d.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.expr("CAST(split_part(value, '\\t', 1) AS BIGINT)").alias("doc_id"),
        F.expr("substring(value, length(split_part(value, '\\t', 1)) + 2)").alias(
            "text"
        ),
    )
    return back.groupBy((F.col("doc_id") % 10).alias("id_bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(F.expr("CAST(conv(substring(md5(text), 1, 12), 16, 10) AS BIGINT)"))
        .alias("content_checksum"),
    )


_SRC_TEXT_SCAN_SQL = """
SELECT doc_id % 10 AS id_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT)) AS BIGINT)
         AS content_checksum
FROM documents
WHERE NOT regexp_matches(text, '[\t\n\r]')
GROUP BY doc_id % 10
"""


def src_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-CSV tolerance — the ingest reality parquet entries
    never face: a vendor CSV where some rows carry an unparseable
    field. Documents are exported as CSV lines with every
    doc_id % 13 == 0 row deliberately corrupted (non-numeric
    n_chars), read back under PERMISSIVE mode with a
    columnNameOfCorruptRecord column, and summarized per language
    with the corrupt rows in their own class — nothing dropped
    silently (the FAILFAST/DROPMALFORMED alternatives are one option
    away; the permissive+quarantine shape is what a 100 TB ingest
    actually runs). The oracle derives the same classes closed-form
    from the parquet source, so the round-trip certifies BOTH the
    good rows' values and the corrupt rows' exact membership."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "lang"
    )
    line = F.when(
        F.col("doc_id") % 13 == 0,
        F.expr("concat(CAST(doc_id AS STRING), ',oops,', lang)"),
    ).otherwise(
        F.expr(
            "concat(CAST(doc_id AS STRING), ',',"
            " CAST(n_chars AS STRING), ',', lang)"
        )
    )
    out = staging_path(spark, sf_dir, "csvperm")
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id LONG, n_chars LONG, lang STRING, _corrupt STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    cls = F.when(F.col("_corrupt").isNotNull(), F.lit("CORRUPT")).otherwise(
        F.col("lang")
    )
    return back.groupBy(cls.alias("lang_class")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("sum_chars"),
        F.sum(F.expr("(doc_id * 2654435761) % 1000000007")).alias(
            "id_checksum"
        ),
    )


_SRC_CSV_PERMISSIVE_SQL = """
SELECT CASE WHEN doc_id % 13 = 0 THEN 'CORRUPT' ELSE lang END AS lang_class,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN doc_id % 13 != 0 THEN n_chars END), 0)
            AS BIGINT) AS sum_chars,
       CAST(SUM((doc_id * 2654435761) % 1000000007) AS BIGINT) AS id_checksum
FROM documents
GROUP BY 1
"""


_BINFILE_N = 24


def src_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal lake ingest via Spark's `binaryFile` source — how
    raw image/audio payloads actually enter a pipeline before any
    decode: _BINFILE_N deterministic binary blobs (md5-keyed bytes,
    varied lengths) are laid down as files, scanned with
    format('binaryFile'), and reduced JVM-side (length + md5 of
    content) — the payload bytes never reach Python. The oracle is
    closed-form over the same generator arithmetic, so the content
    column — not just file listing — is verified. At 100 TB this
    scan is the entry point that mm_binary_meta/mm_resize consume;
    pathGlobFilter/recursiveFileLookup prune at the listing level."""
    import hashlib
    import os

    root = staging_path(spark, sf_dir, "binfiles")
    os.makedirs(root, exist_ok=True)
    for i in range(_BINFILE_N):
        # payload: the md5 hex of the index, repeated i+1 times
        payload = (hashlib.md5(str(i).encode()).hexdigest()).encode() * (i + 1)
        with open(os.path.join(root, f"blob_{i:04d}.bin"), "wb") as fh:
            fh.write(payload)
    files = spark.read.format("binaryFile").load(root)
    return files.select(
        F.regexp_extract(F.col("path"), r"blob_(\d+)\.bin", 1)
        .cast("long")
        .alias("blob_id"),
        F.col("length"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def _src_binaryfile_scan_sql() -> str:
    return f"""
SELECT i AS blob_id,
       CAST(32 * (i + 1) AS BIGINT) AS length,
       md5(repeat(md5(CAST(i AS VARCHAR)), i + 1)) AS content_md5
FROM (SELECT unnest(range(0, {_BINFILE_N})) AS i)
"""


def snk_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite — the data-layout answer to
    two-dimensional pruning: events are rewritten range-partitioned
    and sorted by the bit-interleaved (user_id, day) Z-key, so
    parquet row-group min/max stats become tight little boxes in BOTH
    dimensions and a (user range AND day range) predicate skips most
    files — where a layout sorted by user alone skips nothing for a
    day-only filter. tests/test_sinks.py::test_zorder_prunes_2d
    proves the skipping against the footers of this exact layout.

    Coordinates are MIN-MAX NORMALIZED to the full _Z_BITS width
    in-plan (broadcast 1-row stats, exact integer affine) before
    interleaving — raw values would waste interleave bits whenever a
    column's live range is narrow (the fixture's ~30 distinct days
    use 5 of 8 bits, so raw-z day bounds stay wide per row group and
    nothing prunes). Production Z-clustering does the same thing one
    step further (quantile buckets instead of min-max).

    The returned frame reads the clustered layout BACK and
    aggregates per Z-bucket, so the oracle (same aggregate straight
    off the source view) certifies the rewrite round-trip lost
    nothing and the Z-key arithmetic is engine-exact. At 100 TB:
    same plan, repartitionByRange sampling picks file boundaries,
    maxRecordsPerFile sizes them; Z-clustering is what lakehouse
    OPTIMIZE ZORDER does, here as a plain Spark job."""
    top = (1 << _Z_BITS) - 1
    raw = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts_us div 86400000000").alias("day"),
    )
    stats = raw.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("day").alias("dmin"),
        F.max("day").alias("dmax"),
    )
    ev = raw.crossJoin(F.broadcast(stats)).select(
        "event_id",
        "user_id",
        F.expr(
            f"((user_id - umin) * {top}) div greatest(umax - umin, 1)"
        ).alias("ubits"),
        F.expr(
            f"((day - dmin) * {top}) div greatest(dmax - dmin, 1)"
        ).alias("dbits"),
    )
    z = _z_interleave_sql("ubits", "dbits")
    zed = ev.withColumn("zkey", F.expr(z).cast("long"))
    out = staging_path(spark, sf_dir, "zorder")
    (
        zed.repartitionByRange(8, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.expr("zkey div 4096").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("zkey").alias("zmin"),
            F.max("zkey").alias("zmax"),
            F.sum("user_id").alias("sum_users"),
        )
    )


def _snk_zorder_layout_sql() -> str:
    z = _z_interleave_sql("ubits", "dbits")
    top = (1 << _Z_BITS) - 1
    return f"""
WITH raw AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) // 86400000000 AS day FROM events
), st AS (
  SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
         MIN(day) AS dmin, MAX(day) AS dmax
  FROM raw
), bits AS (
  SELECT user_id,
         ((user_id - umin) * {top}) // greatest(umax - umin, 1) AS ubits,
         ((day - dmin) * {top}) // greatest(dmax - dmin, 1) AS dbits
  FROM raw, st
), zed AS (
  SELECT user_id, CAST({z} AS BIGINT) AS zkey FROM bits
)
SELECT zkey // 4096 AS zbucket, COUNT(*) AS n_events,
       MIN(zkey) AS zmin, MAX(zkey) AS zmax,
       CAST(SUM(user_id) AS BIGINT) AS sum_users
FROM zed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# snk_bucketed_join — co-bucketed tables joined without an exchange
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _lineage_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two deterministic event batches landed as separate parquet
    files under one directory, a front per (app, dataset)."""
    import os

    def build() -> str:
        path = staging_path(spark, sf_dir, "lineage")
        e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
        for name, pred in (
            ("batch_a", F.col("event_id") % 2 == 0),
            ("batch_b", F.col("event_id") % 2 == 1),
        ):
            (
                e.where(pred)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(path, name))
            )
        return path

    return front(spark, sf_dir, "lineage", build)


def src_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE LINEAGE over a multi-file landing zone: a directory of
    independently-landed parquet batches scans as one relation with
    ``input_file_name()`` exposing per-row provenance — the audit
    column every ingest pipeline carries to trace a bad row back to
    its source file. The batch id is extracted from the PATH (the
    stable part; the parquet part-file name is run-specific), and the
    entry rolls provenance up to (batch, event_type) counts — the
    reconciliation report that catches a half-landed batch. The
    lineage column is evaluated at the scan (no shuffle added); the
    rollup is one partial-aggregable aggregate."""
    path = _lineage_dir(spark, sf_dir)
    df = spark.read.parquet(f"{path}/batch_a", f"{path}/batch_b")
    batch = F.expr(
        r"regexp_extract(input_file_name(), '(batch_[ab])', 1)"
    )
    return (
        df.withColumn("batch", batch)
        .groupBy("batch", "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


_SRC_FILE_LINEAGE_SQL = """
SELECT CASE WHEN event_id % 2 = 0 THEN 'batch_a' ELSE 'batch_b' END
         AS batch,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
GROUP BY 1, 2
"""


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Land lineitem + orders as co-bucketed (+sorted) tables on the
    order key, a front per (app, dataset). In production this layout
    is written ONCE at ingest and amortized over every downstream
    join — exactly what the front models."""
    import os

    def build() -> tuple[str, str]:
        names = []
        for tbl, bkey in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            name = os.path.basename(staging_path(None, sf_dir, f"bkt_{tbl}"))
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                load_table(spark, sf_dir, tbl)
                .write.format("parquet")
                .bucketBy(_BUCKETS, bkey)
                .sortBy(bkey)
                .option("path", staging_path(spark, sf_dir, f"bkt_{tbl}"))
                .mode("overwrite")
                .saveAsTable(name)
            )
            names.append(name)
        return tuple(names)

    return front(spark, sf_dir, "bucketed_join", build)


def snk_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB FACT-FACT JOIN STRATEGY as a user-visible operator:
    lineitem and orders land as co-BUCKETED parquet tables on the
    order key (8 buckets, sorted), and the revenue-per-priority join
    runs over the bucketed scans — both sides already satisfy the
    join's required distribution, so the plan has NO exchange on the
    join key (pinned by tests/test_round6_ops.py). At 100 TB this is
    the difference between reshuffling terabytes per query and
    reading co-located buckets; the one-time layout cost is memoized
    exactly as production amortizes it at ingest. Results equal the
    plain join (the oracle) by construction."""
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name).select(
        "l_orderkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "price_c"
        ),
    )
    o = spark.table(o_name).select("o_orderkey", "o_orderpriority")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("price_c") / 100.0).alias("revenue"),
    )


_SNK_BUCKETED_JOIN_SQL = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


_DPP_ERA_START = 1999  # 'recent era' rule, mirrored literally in the oracle


def _dpp_fact_dir(spark: SparkSession, sf_dir: str) -> str:
    """Orders landed as a year-partitioned parquet layout at a stable
    path keyed ONLY by the dataset (not the application id), so
    repeated sessions — driver runs, pytest, bench rounds — reuse one
    copy instead of each leaving another orders-sized tree in /tmp
    (ADVICE r7). A `_FINGERPRINT` marker, written after the layout
    commits and holding the dataset fingerprint it was landed from,
    gates reuse: a partial write from a killed session, or a layout of
    a since-rewritten dataset, is re-materialized, never trusted."""
    import os

    def build() -> str:
        path = staging_path(None, os.path.abspath(sf_dir), "dpp")
        marker = os.path.join(path, "_FINGERPRINT")
        fp = repr(dataset_fingerprint(sf_dir))
        try:
            with open(marker) as f:
                if f.read() == fp:
                    return path
        except OSError:
            pass
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(path)
        )
        with open(marker, "w") as f:
            f.write(fp)
        return path

    return front(spark, sf_dir, "dpp", build)


def join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING — the 100 TB star-join scan killer:
    the fact table is laid out partitioned by year, the (tiny,
    broadcast) era dimension is filtered at runtime, and Catalyst
    injects the dim's surviving join keys as a partition filter ON
    THE FACT SCAN (`dynamicpruningexpression` in PartitionFilters —
    pinned by tests/test_round7_ops.py), so non-matching partitions
    are never read. That skip is the whole economics of partitioned
    lakehouse layouts: a 3-of-7-years query reads 3/7 of the bytes.
    The dim here is built from spark.range so its filter is evaluated
    at runtime like a real dimension table, not constant-folded.
    Results equal the plain predicate join (the oracle) by
    construction."""
    fact = spark.read.parquet(_dpp_fact_dir(spark, sf_dir)).select(
        F.col("o_year").cast("long").alias("o_year"),
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("price_c"),
    )
    era = (
        spark.range(1990, 2010)
        .select(
            F.col("id").alias("dim_year"),
            F.when(F.col("id") >= _DPP_ERA_START, F.lit("recent"))
            .otherwise(F.lit("legacy"))
            .alias("era"),
        )
        .where(F.col("era") == "recent")
    )
    j = fact.join(
        F.broadcast(era), fact["o_year"] == era["dim_year"]
    )
    return j.groupBy("o_year", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_c").alias("revenue_cents"),
    )


_JOIN_DPP_PRUNE_SQL = f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE year(o_orderdate) >= {_DPP_ERA_START}
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# src_zonemap_stats — partition zone-map / file-skipping observability
# ---------------------------------------------------------------------------

_ZM_DATE_CUT = 10_013  # unix_date(DATE '1997-06-01'), baked literal
_ZM_PRICE_CUT_C = 30_000_000  # $300k in cents


def src_zonemap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP OBSERVABILITY — the report a lakehouse keeps about
    its own PHYSICAL layout: per partition of the year-partitioned
    orders copy (the `join_dpp_prune` staging, reused), the min/max
    zone bounds of the two hot filter columns and, for three
    representative predicates, whether the whole partition is
    PRUNABLE (zone max below the cut). At 100 TB this table IS the
    file-skipping story: a scan planner consults exactly these
    bounds, and 'share of partitions skipped' is the first number to
    check when a query reads too much. Stats come from one
    column-pruned pass over the partitioned layout (min/max/count
    partial-aggregate in the scan); the oracle recomputes them from
    the logical table, proving the physical re-land preserved the
    data exactly."""
    fact = spark.read.parquet(_dpp_fact_dir(spark, sf_dir)).select(
        F.col("o_year").cast("long").alias("o_year"),
        F.expr("unix_date(CAST(o_orderdate AS DATE))").alias("day"),
        cents("o_totalprice").alias("price_c"),
    )
    zones = fact.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
        F.min("price_c").alias("min_price_c"),
        F.max("price_c").alias("max_price_c"),
    )
    return zones.select(
        "o_year",
        F.col("n_rows").cast("long").alias("n_rows"),
        "min_day",
        "max_day",
        "min_price_c",
        "max_price_c",
        (F.col("max_day") < _ZM_DATE_CUT).cast("long").alias("prune_date"),
        (F.col("max_price_c") < _ZM_PRICE_CUT_C)
        .cast("long")
        .alias("prune_price"),
        (
            (F.col("max_day") < _ZM_DATE_CUT)
            | (F.col("max_price_c") < _ZM_PRICE_CUT_C)
        )
        .cast("long")
        .alias("prune_any"),
    )


_SRC_ZONEMAP_STATS_SQL = f"""
WITH fact AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), zones AS (
  SELECT o_year,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MIN(day) AS BIGINT) AS min_day,
         CAST(MAX(day) AS BIGINT) AS max_day,
         CAST(MIN(price_c) AS BIGINT) AS min_price_c,
         CAST(MAX(price_c) AS BIGINT) AS max_price_c
  FROM fact GROUP BY o_year
)
SELECT o_year, n_rows, min_day, max_day, min_price_c, max_price_c,
       CAST(CASE WHEN max_day < {_ZM_DATE_CUT} THEN 1 ELSE 0 END
            AS BIGINT) AS prune_date,
       CAST(CASE WHEN max_price_c < {_ZM_PRICE_CUT_C} THEN 1 ELSE 0 END
            AS BIGINT) AS prune_price,
       CAST(CASE WHEN max_day < {_ZM_DATE_CUT}
                   OR max_price_c < {_ZM_PRICE_CUT_C} THEN 1 ELSE 0 END
            AS BIGINT) AS prune_any
FROM zones
"""


# ---------------------------------------------------------------------------
# str_xml_roundtrip — Spark 4 native XML scalar surface
# ---------------------------------------------------------------------------


def str_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML FORMAT BOUNDARY — Spark 4's native XML surface
    (`to_xml`/`from_xml`, the spark-xml package merged into core)
    proven lossless: each nation row serializes to an XML fragment
    and parses back through an explicit schema; the oracle is the
    SOURCE TABLE itself, so any escaping, type-coercion, or
    field-ordering bug in the roundtrip hash-fails. The XML string
    never enters the comparison surface (its formatting is
    Spark-specific) — only the parsed-back values do. Both
    directions are JVM expressions inside codegen: no UDF, columnar
    all the way."""
    n = load_table(spark, sf_dir, "nation")
    xml = F.to_xml(
        F.struct(
            F.col("n_nationkey").cast("long").alias("k"),
            F.col("n_name").alias("nm"),
            F.col("n_regionkey").cast("long").alias("rk"),
        )
    )
    parsed = F.from_xml(xml, "k BIGINT, nm STRING, rk BIGINT")
    return n.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        parsed.getField("nm").alias("name_rt"),
        parsed.getField("rk").alias("regionkey_rt"),
        (
            (parsed.getField("k") == F.col("n_nationkey"))
            & (parsed.getField("nm") == F.col("n_name"))
            & (parsed.getField("rk") == F.col("n_regionkey"))
        )
        .cast("long")
        .alias("rt_ok"),
    )


_STR_XML_ROUNDTRIP_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name AS name_rt,
       CAST(n_regionkey AS BIGINT) AS regionkey_rt,
       CAST(1 AS BIGINT) AS rt_ok
FROM nation
"""


# ---------------------------------------------------------------------------
# src_python_stream_source — Spark 4 Python STREAMING data source
# ---------------------------------------------------------------------------

_PYSS_N = 1_000
_PYSS_CHUNK = 100


def src_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Python DataSource (Spark 4's
    `SimpleDataSourceStreamReader`) — the streaming twin of
    `src_python_datasource`, the class an external feed (queue,
    ticker, poller) plugs into when it has OFFSETS instead of
    partition descriptors: initialOffset/read(start) produce
    100-record micro-batches with a monotonically advancing offset
    dict, the engine handles batch planning and replay. Rows append
    to a memory sink until the deterministic feed is exhausted, then
    the standing table aggregates — so batch BOUNDARIES (a runtime
    artifact) never reach the comparison surface, only the append
    fixpoint does. The result is the "pyss" front this entry owns:
    the stream is a fixture feed, so later calls serve the aggregate
    and a benchmark evicts it to time the stream."""
    return front(
        spark,
        sf_dir,
        "pyss",
        lambda: _python_stream_build(spark),
        owner="src_python_stream_source",
    )


def _python_stream_build(spark: SparkSession) -> DataFrame:
    """Runs the feed to exhaustion into a memory sink, checkpoints the
    aggregate and drops the sink's temp view. Raises when the sink
    holds fewer than _PYSS_N rows: a short feed is an error, never a
    partial result."""
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _FeedStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            import hashlib

            i = start["i"]
            if i >= _PYSS_N:
                return iter([]), {"i": i}
            end = min(i + _PYSS_CHUNK, _PYSS_N)
            rows = [
                (k, hashlib.md5(str(k).encode()).hexdigest(), k * k)
                for k in range(i, end)
            ]
            return iter(rows), {"i": end}

        def readBetweenOffsets(self, start, end):
            import hashlib

            return iter(
                (k, hashlib.md5(str(k).encode()).hexdigest(), k * k)
                for k in range(start["i"], end["i"])
            )

    class _FeedStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "pe_feed_stream"

        def schema(self):
            return "rec_id bigint, payload_md5 string, sq bigint"

        def simpleStreamReader(self, schema):
            return _FeedStreamReader()

    spark.dataSource.register(_FeedStreamSource)
    qname = f"pe_pyss_{uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("pe_feed_stream")
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        q.stop()
        n = spark.table(qname).count()
        if n < _PYSS_N:
            raise RuntimeError(
                f"src_python_stream_source: memory sink holds {n} of {_PYSS_N} rows"
            )
        return (
            spark.table(qname)
            .groupBy((F.col("rec_id") % 8).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("sq").alias("sum_sq"),
                F.sum(
                    F.expr(
                        "CAST(conv(substring(payload_md5, 1, 8), 16, 10)"
                        " AS BIGINT)"
                    )
                ).alias("payload_sum"),
            )
            .select(
                "bucket",
                F.col("n").cast("long").alias("n"),
                F.col("sum_sq").cast("long").alias("sum_sq"),
                F.col("payload_sum").cast("long").alias("payload_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        q.stop()  # a no-op once stopped
        spark.catalog.dropTempView(qname)


_SRC_PYSS_SQL = f"""
WITH feed AS (
  SELECT i AS rec_id, md5(CAST(i AS VARCHAR)) AS payload_md5,
         i * i AS sq
  FROM (SELECT unnest(range(0, {_PYSS_N})) AS i)
)
SELECT CAST(rec_id % 8 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(sq) AS BIGINT) AS sum_sq,
       CAST(SUM(CAST(('0x' || substr(payload_md5, 1, 8)) AS BIGINT))
            AS BIGINT) AS payload_sum
FROM feed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# snk_retention_vacuum — partition-level retention enforcement
# ---------------------------------------------------------------------------

_RETAIN_DAYS = 14


def snk_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION VACUUM — the lakehouse janitor: land the
    day-partitioned events table, then ENFORCE a 14-day retention
    policy by physically deleting expired partition directories
    (real filesystem removes, not a logical filter — the operation
    that actually frees storage and shrinks listings). The cutoff
    derives from the DATA's max day, so the entry is deterministic
    at any scale factor. The read-back after the vacuum is the
    proof: expired days are gone from the table (not just from one
    query's WHERE clause), retained days are untouched, and the
    summary row reconciles against the logical-table oracle. At
    100 TB this is an O(expired partitions) metadata+delete
    operation — never a table rewrite, which is the entire point of
    partitioning by the retention axis."""
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("ts_us div 86400000000").alias("day"),
    )
    out = _fresh_generation(spark, sf_dir, "vacuum")
    # The vacuum physically DELETES partitions, so unlike the other
    # two maintenance sinks its input cannot simply be a memoized
    # path — each run needs a full pristine table. Land the pristine
    # copy once per (app, dataset) and re-materialize the vacuum
    # target as a HARD-LINK clone per run (the lakehouse
    # shallow-clone-then-vacuum mechanic): directory metadata ops
    # only, the deletes then unlink the clone's names while the
    # pristine landing keeps its own. The declared work — expired-
    # partition discovery, the physical removes, and the read-back
    # proof over the surviving files — runs in full every time.
    pristine = _staged_sink_input(
        spark,
        sf_dir,
        "vacsrc",
        lambda p: ev.write.mode("overwrite").partitionBy("day").parquet(p),
    )
    if os.path.isdir(out):
        shutil.rmtree(out)
    _clone_tree(pristine, out)
    days = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("day=")
    )
    cutoff = max(days) - _RETAIN_DAYS + 1
    expired = [d for d in days if d < cutoff]
    for d in expired:
        shutil.rmtree(os.path.join(out, f"day={d}"))
    back = spark.read.parquet(out)
    return (
        back.agg(
            F.count(F.lit(1)).alias("rows_after"),
            F.countDistinct("day").alias("days_after"),
            F.min("day").alias("oldest_kept_day"),
            F.max("day").alias("newest_day"),
        )
        .select(
            F.lit(len(days)).cast("long").alias("days_before"),
            F.col("days_after").cast("long").alias("days_after"),
            F.lit(len(expired)).cast("long").alias("days_vacuumed"),
            F.col("rows_after").cast("long").alias("rows_after"),
            F.col("oldest_kept_day").cast("long").alias("oldest_kept_day"),
            F.col("newest_day").cast("long").alias("newest_day"),
        )
    )


_SNK_RETENTION_VACUUM_SQL = f"""
WITH ev AS (
  SELECT epoch_us(ts::TIMESTAMP) // 86400000000 AS day FROM events
), lim AS (
  SELECT MAX(day) - {_RETAIN_DAYS} + 1 AS cutoff,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS days_before
  FROM ev
)
SELECT lim.days_before,
       CAST(COUNT(DISTINCT ev.day) AS BIGINT) AS days_after,
       CAST(lim.days_before - COUNT(DISTINCT ev.day) AS BIGINT)
         AS days_vacuumed,
       CAST(COUNT(*) AS BIGINT) AS rows_after,
       CAST(MIN(ev.day) AS BIGINT) AS oldest_kept_day,
       CAST(MAX(ev.day) AS BIGINT) AS newest_day
FROM ev CROSS JOIN lim
WHERE ev.day >= lim.cutoff
GROUP BY lim.days_before
"""


def _clone_tree(src: str, dst: str) -> None:
    """Hard-link clone of a staged parquet tree (src and dst share
    the tmp filesystem, so links are metadata-only and the cloned
    files are the same inodes — byte-identical by construction).
    Falls back to a plain copy for a file the filesystem refuses to
    link, so the clone is correct even on exotic tmp mounts."""
    import os
    import shutil

    for dirpath, _dirnames, filenames in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        tgt = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tgt, exist_ok=True)
        for fname in filenames:
            s = os.path.join(dirpath, fname)
            d = os.path.join(tgt, fname)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


def _fresh_generation(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """``staging_path(spark, sf_dir, prefix)`` of a MUTATING per-call
    tree (vacuum, codec matrix, txn log), after deleting the trees
    EARLIER sessions left under the same dataset prefix. Such trees
    can't share one stable path across sessions the way
    `_dpp_fact_dir` does — a concurrent reader of a half-mutated tree
    would see garbage — so each session gets its own tree and sweeps
    its predecessors' (the ADVICE-r7 accumulation lesson, applied to
    the mutable case). Only trees idle for an hour are swept: a
    CONCURRENT live session's tree (parallel pytest + driver-sim) must
    never be deleted from under it. Staged input fixtures are never
    swept: one written once by a long-lived session is older than the
    cutoff while that session still serves it."""
    import os
    import shutil
    import time

    keep = staging_path(spark, sf_dir, prefix)
    tmp, stem = os.path.split(staging_path(None, sf_dir, prefix))
    cutoff = time.time() - 3600
    for d in os.listdir(tmp):
        p = os.path.join(tmp, d)
        if d.startswith(stem + "_") and p != keep and os.path.isdir(p):
            try:
                if os.path.getmtime(p) < cutoff:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass  # vanished mid-scan (another session's sweep)
    return keep


# ---------------------------------------------------------------------------
# src_codec_matrix — compression-codec roundtrip matrix
# ---------------------------------------------------------------------------

_CODECS = ("snappy", "gzip", "zstd")


def src_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC ROUNDTRIP MATRIX — the format-boundary check for the
    three parquet codecs a 100 TB lake actually chooses between
    (snappy = default, gzip = cold storage, zstd = the modern
    both-worlds pick): the same documents table is landed once per
    codec and read back, and every codec must return the IDENTICAL
    logical contents — row count, distinct langs, char volume, and
    an order-insensitive doc_id*n_chars checksum. The oracle states
    that invariant directly (one logical rollup per codec row), so
    any codec-dependent corruption, truncation, or type drift
    becomes a hash mismatch. Compressed sizes are deliberately NOT
    in the comparison surface — they are engine/version-specific;
    the contract is that compression never touches semantics."""
    import os

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    root = _fresh_generation(spark, sf_dir, "codec")
    out = None
    for codec in _CODECS:
        path = os.path.join(root, codec)
        d.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        roll = back.agg(
            F.lit(codec).alias("codec"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.col("doc_id") * F.col("n_chars")).alias("checksum"),
        ).select(
            "codec",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.col("sum_chars").cast("long").alias("sum_chars"),
            F.col("checksum").cast("long").alias("checksum"),
        )
        out = roll if out is None else out.unionByName(roll)
    return out


_SRC_CODEC_SQL = """
WITH roll AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(SUM(doc_id * n_chars) AS BIGINT) AS checksum
  FROM documents
)
SELECT codec, n_rows, n_langs, sum_chars, checksum
FROM roll, (SELECT UNNEST(['snappy', 'gzip', 'zstd']) AS codec)
"""


# ---------------------------------------------------------------------------
# snk_txn_log_snapshot — snapshot isolation via a versioned manifest log
# ---------------------------------------------------------------------------


def snk_txn_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSACTION-LOG SNAPSHOT ISOLATION — the Delta/Iceberg core
    mechanic on plain parquet: a table is WHICHEVER FILES the
    versioned manifest names, commits are new manifest versions
    (append = add a file, delete = copy-on-write replace a file),
    and old snapshots stay readable because committed data files are
    immutable. v1 lands 90% of orders as file A; v2 appends file B
    (the held-out 10%) AND deletes the status='F' rows from A by
    writing A' — manifest v2 = [A', B]. BOTH snapshots are then read
    back THROUGH their manifests (v1 after v2 committed — that read
    succeeding with v1's exact contents IS snapshot isolation), and
    the per-version rollups reconcile against the oracle's logical
    reconstruction. At 100 TB the commit cost is O(files touched) —
    the append writes one file and the delete rewrites one, never
    the table; readers pin a manifest and are immune to concurrent
    commits."""
    import json
    import os

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents("o_totalprice").alias("price_c"),
    )
    root = _fresh_generation(spark, sf_dir, "txnlog")

    def _commit(version: int, files: list[str]) -> None:
        with open(os.path.join(root, f"manifest_v{version}.json"), "w") as f:
            json.dump({"version": version, "files": files}, f)

    def _snapshot(version: int) -> list[str]:
        with open(os.path.join(root, f"manifest_v{version}.json")) as f:
            m = json.load(f)
        return [os.path.join(root, p) for p in m["files"]]

    os.makedirs(root, exist_ok=True)
    # v1: initial load (90% of orders) as immutable file set A
    o.where(F.col("o_orderkey") % 10 != 0).write.mode("overwrite").parquet(
        os.path.join(root, "data_a")
    )
    _commit(1, ["data_a"])
    # v2: append B + copy-on-write delete of status='F' rows from A
    o.where(F.col("o_orderkey") % 10 == 0).write.mode("overwrite").parquet(
        os.path.join(root, "data_b")
    )
    spark.read.parquet(os.path.join(root, "data_a")).where(
        F.col("o_orderstatus") != "F"
    ).write.mode("overwrite").parquet(os.path.join(root, "data_a2"))
    _commit(2, ["data_a2", "data_b"])

    # read BOTH snapshots through the log, v1 after v2 committed
    def _rollup(version: int) -> DataFrame:
        snap = spark.read.parquet(*_snapshot(version))
        return snap.agg(
            F.lit(version).cast("long").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price_c").alias("sum_price_c"),
            F.sum(
                (F.col("o_orderstatus") == "F").cast("long")
            ).alias("n_f_rows"),
        ).select(
            "version",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("sum_price_c").cast("long").alias("sum_price_c"),
            F.col("n_f_rows").cast("long").alias("n_f_rows"),
        )

    return _rollup(1).unionByName(_rollup(2))


_SNK_TXNLOG_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), v1 AS (
  SELECT * FROM o WHERE o_orderkey % 10 != 0
), v2 AS (
  SELECT * FROM v1 WHERE o_orderstatus != 'F'
  UNION ALL
  SELECT * FROM o WHERE o_orderkey % 10 = 0
)
SELECT CAST(1 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_f_rows
FROM v1
UNION ALL
SELECT CAST(2 AS BIGINT) AS version,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(price_c) AS BIGINT) AS sum_price_c,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_f_rows
FROM v2
"""


QUERIES = {
    "snk_retention_vacuum": QuerySpec(
        snk_retention_vacuum,
        _SNK_RETENTION_VACUUM_SQL,
        ("sink", "retention", "vacuum"),
    ),
    "snk_txn_log_snapshot": QuerySpec(
        snk_txn_log_snapshot,
        _SNK_TXNLOG_SQL,
        ("sink", "acid", "snapshot-isolation"),
    ),
    "src_codec_matrix": QuerySpec(
        src_codec_matrix,
        _SRC_CODEC_SQL,
        ("source", "codec", "roundtrip"),
    ),
    "src_python_stream_source": QuerySpec(
        src_python_stream_source,
        _SRC_PYSS_SQL,
        ("source", "streaming", "python-datasource"),
    ),
    "str_xml_roundtrip": QuerySpec(
        str_xml_roundtrip,
        _STR_XML_ROUNDTRIP_SQL,
        ("format", "xml", "roundtrip"),
    ),
    "src_zonemap_stats": QuerySpec(
        src_zonemap_stats,
        _SRC_ZONEMAP_STATS_SQL,
        ("source", "zonemap", "pruning"),
    ),
    "snk_bucketed_join": QuerySpec(
        snk_bucketed_join, _SNK_BUCKETED_JOIN_SQL, ("sink", "bucketing", "join")
    ),
    "join_dpp_prune": QuerySpec(
        join_dpp_prune, _JOIN_DPP_PRUNE_SQL, ("join", "dpp", "pruning")
    ),
    "src_file_lineage": QuerySpec(
        src_file_lineage, _SRC_FILE_LINEAGE_SQL, ("source", "lineage")
    ),
    "io_http_fetch": QuerySpec(
        io_http_fetch, _IO_HTTP_FETCH_SQL, ("io", "pandas_udf")
    ),
    "snk_partition_overwrite": QuerySpec(
        snk_partition_overwrite, _SNK_PARTITION_OVERWRITE_SQL, ("io", "sink")
    ),
    "snk_compact_files": QuerySpec(
        snk_compact_files, _SNK_COMPACT_FILES_SQL, ("io", "sink", "maintenance")
    ),
    "src_corrupt_tolerant": QuerySpec(
        src_corrupt_tolerant,
        _SRC_CORRUPT_TOLERANT_SQL,
        ("io", "source", "tolerance"),
    ),
    "src_csv_permissive": QuerySpec(
        src_csv_permissive,
        _SRC_CSV_PERMISSIVE_SQL,
        ("io", "source", "csv", "tolerance"),
    ),
    "html_extract": QuerySpec(html_extract, _HTML_EXTRACT_SQL, ("io", "udtf")),
    "html_extract_names": QuerySpec(
        html_extract_names, _html_extract_names_sql(), ("io", "udtf", "step3")
    ),
    "flt_accessible": QuerySpec(
        flt_accessible, _FLT_ACCESSIBLE_SQL, ("io", "filter")
    ),
    "portco_pipeline_e2e": QuerySpec(
        portco_pipeline_e2e, _portco_pipeline_e2e_sql(), ("io", "composed")
    ),
    "udtf_kwic": QuerySpec(udtf_kwic, _UDTF_KWIC_SQL, ("io", "udtf")),
    "src_schema_evolution": QuerySpec(
        src_schema_evolution, _SRC_SCHEMA_EVOLUTION_SQL, ("io", "source")
    ),
    "snk_zorder_layout": QuerySpec(
        snk_zorder_layout, _snk_zorder_layout_sql(), ("io", "sink", "layout")
    ),
    "src_python_datasource": QuerySpec(
        src_python_datasource,
        _SRC_PYTHON_DATASOURCE_SQL,
        ("io", "source", "connector"),
    ),
    "src_orc_roundtrip": QuerySpec(
        src_orc_roundtrip, _SRC_ORC_ROUNDTRIP_SQL, ("io", "source", "format")
    ),
    "src_text_scan": QuerySpec(
        src_text_scan, _SRC_TEXT_SCAN_SQL, ("io", "source", "format")
    ),
    "src_binaryfile_scan": QuerySpec(
        src_binaryfile_scan,
        _src_binaryfile_scan_sql(),
        ("io", "source", "multimodal"),
    ),
}
