"""sf0.1 parity spot-check for SCALE-SENSITIVE operators.

The driver's correctness gate runs at sf0.01; every operator whose
plan derives a parameter from the DATA SIZE in-plan (LSH cell count
from COUNT(*), IVF stride from COUNT(*), shard block width from
MAX(doc_id), mixture rates from per-stratum counts) could in
principle hash-match at one scale and diverge at another — e.g. an
off-by-one between the engines' floor/log2 at a count that crosses a
power of two. This file re-runs those entries against their own
DuckDB oracles at 10x the gate's data so N-dependent drift fails in
CI, not in production."""

from __future__ import annotations

import pytest

from pe_firm_investment_database_pipeline_spark.plans import all_queries
from tools.driver_sim import check, oracle_conn

SF01 = "/root/testdata/sf0.1"

SCALE_SENSITIVE = [
    "dedup_embedding_cosine",  # nbits = f(COUNT(*)) hyperplane cells
    "sim_ivf_multiprobe",  # centroid stride = f(COUNT(*))
    "shard_by_token_budget",  # cumsum block width = f(MAX(doc_id))
    "samp_domain_mixture",  # keep rates = f(per-stratum counts)
    "sim_pq_topk",  # codebook stride = f(COUNT(*))
    "agg_equidepth_hist",  # bin boundaries = percentiles of N values
    "diff_snapshots",  # checksum sum must stay in int64 at 10x keys
    "snk_zorder_layout",  # coordinate normalization = f(MIN/MAX)
    "rag_bm25_topk",  # idf/saturation integers = f(N, S)
]


@pytest.fixture(scope="module")
def con01():
    c = oracle_conn(SF01)
    yield c
    c.close()


@pytest.mark.parametrize("op_id", SCALE_SENSITIVE)
def test_scale_sensitive_parity_sf01(spark, con01, op_id):
    spec = all_queries()[op_id]
    check(
        f"{op_id}@sf0.1", spec.fn(spark, SF01).toPandas(), con01.sql(spec.oracle).df()
    )
