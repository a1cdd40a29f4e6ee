"""The reference seed pipeline (SURVEY.md §3.1) replayed over a JSONL
response log — the P1 golden-parity slice.

The log the registry entries and their oracles read is the committed
synthetic one under ``data/aic_logs/`` (``LOGS_GLOB``), written by its
seeded ``generate.py`` in the capture's shape (FIXTURES.md §A1/A2):
2 files, 10 lines, 2 of them corrupt; 160 member rows of 120 distinct
members (one page re-delivered) → 32 PE rows in Australia → 24 firms.
The reference capture's own logs are not part of the repo; the golden
tests replay them where they exist.

Reference semantics re-expressed (file:line vs /root/reference/):
- ``src_jsonl_scan``   — line-per-record JSON log, tolerant of corrupt
  lines (seed_aic.py:314-321) → PERMISSIVE ``read.json`` with an
  explicit schema (backtick-quoted ``$values`` / ``filter-Member Type``
  fields — SURVEY §7 hard part (a)).
- ``flt_shape_probe``  — Items.$values non-empty and first element has
  FullName (seed_aic.py:326-333) → typed struct predicates.
- explode + ``flt_member_pe_au`` — member type ∈ {PE, private equity}
  AND address contains Australia (seed_aic.py:334-336).
- ``agg_dedup_first``  — seen-set dedup by FullName
  (seed_aic.py:311,336-338). The captured duplicates are full-record
  identical (verified across all 4 reference logs: 76 filtered rows →
  28 distinct records → 28 distinct FullNames; the synthetic log's
  re-delivered page keeps that property by construction), so
  first-seen ≡ distinct ≡ any-seen here; we use
  ``dropDuplicates(["FullName"])`` with a full-record distinct first
  so the survivor is deterministic.
- ``proj_select`` / ``snk_csv`` — 2-col and 7-col projections
  (seed_aic.py:356-366); the CSV write itself is exercised in
  tests/test_seed_pipeline.py, against a pure-Python replay of the
  contract on the synthetic log and, where the reference capture
  exists, against its golden output/PE_firms.csv (28 firms).

Scale note: the log glob reads as a distributed json scan; the probe +
filters are all pushable column predicates after the typed read, and
the dedup is a hash-aggregate on the (tiny) firm key. At 100 TB of
response logs the same plan holds — the shuffle carries only the
projected member columns, never headers/raw payloads.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import QuerySpec

# The committed synthetic response log (data/aic_logs/generate.py);
# the entries and both oracles read it on every host.
LOGS_GLOB = str(Path(__file__).resolve().parent.parent / "data" / "aic_logs" / "*.jsonl")

# Explicit member schema — only the fields the pipeline consumes
# (schema-on-read discipline; extra JSON keys are simply not scanned).
MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("FullName", T.StringType()),
        T.StructField("Website", T.StringType()),
        T.StructField("Phone", T.StringType()),
        T.StructField("Email", T.StringType()),
        T.StructField("Latitude", T.DoubleType()),
        T.StructField("Longitude", T.DoubleType()),
        T.StructField("LongLatAddress", T.StringType()),
        T.StructField("filter-Member Type", T.StringType()),
        T.StructField("ID", T.LongType()),
        T.StructField("ExcludeDirectory", T.BooleanType()),
    ]
)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("datetime", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("status", T.LongType()),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "JSON",
            T.StructType(
                [
                    T.StructField(
                        "Items",
                        T.StructType(
                            [T.StructField("$values", T.ArrayType(MEMBER_SCHEMA))]
                        ),
                    )
                ]
            ),
        ),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def read_response_log(spark: SparkSession, path: str = LOGS_GLOB) -> DataFrame:
    """src_jsonl_scan: PERMISSIVE typed scan of the response log."""
    return (
        spark.read.schema(LOG_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def extract_pe_firms(spark: SparkSession, path: str = LOGS_GLOB) -> DataFrame:
    """The extract_PE_firms dataflow (seed_aic.py:309-352) as one
    declarative plan: scan → shape probe → explode → filter → dedup."""
    log = read_response_log(spark, path)
    values = F.col("JSON.Items.`$values`")
    probed = log.where(
        values.isNotNull()
        & (F.size(values) > 0)
        & values.getItem(0).getField("FullName").isNotNull()
    )
    m = probed.select(F.explode(values).alias("m")).select("m.*")
    firms = m.where(
        F.col("`filter-Member Type`").isin("PE", "private equity")
        & F.col("LongLatAddress").contains("Australia")
    ).select(
        "FullName",
        "Website",
        "Phone",
        "Email",
        "Latitude",
        "Longitude",
        "LongLatAddress",
    )
    # duplicates are full-record identical; distinct first makes the
    # FullName-dedup survivor deterministic for the value-hash gate.
    return firms.distinct().dropDuplicates(["FullName"])


def seed_extract_pe_firms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper — reads the committed synthetic log
    (``LOGS_GLOB``: 24 firms), independent of sf_dir."""
    return extract_pe_firms(spark)


_SEED_EXTRACT_SQL = f"""
WITH probed AS (
  SELECT JSON.Items."$values" AS vals
  FROM read_json_auto('{LOGS_GLOB}', format='newline_delimited',
                      union_by_name=true, ignore_errors=true)
  WHERE JSON.Items."$values" IS NOT NULL
    AND len(JSON.Items."$values") > 0
    AND JSON.Items."$values"[1].FullName IS NOT NULL
), exploded AS (
  SELECT unnest(vals) AS m FROM probed
)
SELECT DISTINCT m.FullName AS FullName, m.Website AS Website,
       m.Phone AS Phone, m.Email AS Email,
       m.Latitude AS Latitude, m.Longitude AS Longitude,
       m.LongLatAddress AS LongLatAddress
FROM exploded
WHERE m."filter-Member Type" IN ('PE', 'private equity')
  AND m.LongLatAddress LIKE '%Australia%'
"""


def seed_log_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flt_resource_type analog on the log itself (seed_aic.py:107-124):
    AIC-host + not-google + json-content-type predicates, aggregated
    per HTTP status. Exercises the headers map column."""
    log = read_response_log(spark)
    ctype = F.lower(F.coalesce(F.col("headers")["content-type"], F.lit("")))
    return (
        log.where(
            F.col("url").contains("investmentcouncil.com.au")
            & ~F.col("url").contains("maps.googleapis.com")
        )
        .select("status", ctype.contains("json").alias("is_json"))
        .groupBy("status", "is_json")
        .agg(F.count(F.lit(1)).alias("n_responses"))
    )


_SEED_LOG_STATS_SQL = f"""
SELECT status,
       contains(lower(COALESCE(headers."content-type", '')), 'json') AS is_json,
       COUNT(*) AS n_responses
FROM read_json_auto('{LOGS_GLOB}', format='newline_delimited',
                    union_by_name=true, ignore_errors=true)
WHERE contains(url, 'investmentcouncil.com.au')
  AND NOT contains(url, 'maps.googleapis.com')
GROUP BY status, is_json
"""


QUERIES = {
    "seed_extract_pe_firms": QuerySpec(
        seed_extract_pe_firms, _SEED_EXTRACT_SQL, ("jsonl", "golden")
    ),
    "seed_log_stats": QuerySpec(
        seed_log_stats, _SEED_LOG_STATS_SQL, ("jsonl", "agg")
    ),
}
