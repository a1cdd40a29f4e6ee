"""Pre-split table reads (``sources.tables._scan`` / ``_spread``).

An under-split table is staged once as ``defaultParallelism`` part
files and read from that copy with the schema Spark inferred from the
original, so a warm ``load_table`` launches no Spark job and its scan
needs no round-robin exchange. These tests pin what that may never
change: the rows a table serves, the read of the original file where
no copy is needed, and that a rewritten dataset is never served (a
half-written copy is ``test_session_cache``'s shared-copy case).
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from __spark_entry__ import SF0001
from pe_firm_investment_database_pipeline_spark.functions import session_cache
from pe_firm_investment_database_pipeline_spark.sources import tables
from pe_firm_investment_database_pipeline_spark.sources.tables import load_table
from tools.driver_sim import check

SPREAD = [t for t in tables.TABLES if t not in tables.BROADCAST_DIMS]


def _copy_dataset(dst) -> str:
    sf = str(dst)
    os.makedirs(sf)
    for f in os.listdir(SF0001):
        shutil.copyfile(os.path.join(SF0001, f), os.path.join(sf, f))
    return sf


def _files(df) -> set[str]:
    return {os.path.dirname(f.removeprefix("file://")) for f in df.inputFiles()}


def _duck_rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return sorted(con.sql(sql).fetchall(), key=repr)
    finally:
        con.close()


def test_warm_load_table_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    for name in tables.TABLES:
        load_table(spark, sf_dir, name)  # warm the table's front
    group = "test_table_split_warm"
    sc.setJobGroup(group, "warm load_table")
    try:
        for name in tables.TABLES:
            load_table(spark, sf_dir, name)
        load_table(spark, sf_dir, "documents", spread=False)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("name", SPREAD)
def test_staged_read_is_split_and_row_identical(spark, sf_dir, name):
    """The copy scans as one task per core (fewer only when the table
    has fewer rows than cores: an empty round-robin partition writes no
    file) and holds exactly the original file's rows."""
    _schema, split, _nanos = tables._scan(spark, sf_dir, name)
    assert split is not None
    df = load_table(spark, sf_dir, name)
    assert _files(df) == {split}
    n = spark.sparkContext.defaultParallelism
    rows = _duck_rows(f"SELECT count(*) FROM '{sf_dir}/{name}.parquet'")[0][0]
    assert df.rdd.getNumPartitions() == min(n, rows)
    assert df.count() == rows
    orig = f"read_parquet('{sf_dir}/{name}.parquet')"
    copy = f"read_parquet('{split}/*.parquet')"
    for a, b in ((orig, copy), (copy, orig)):
        assert _duck_rows(f"SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}") == []


def test_staged_read_matches_duckdb_through_spark(spark, sf_dir):
    con = duckdb.connect()
    try:
        want = con.sql(f"SELECT * FROM '{sf_dir}/orders.parquet'").df()
    finally:
        con.close()
    check("orders", load_table(spark, sf_dir, "orders").toPandas(), want)


def test_rewritten_dataset_stages_a_new_copy(spark, tmp_path):
    sf = _copy_dataset(tmp_path / "sf")
    before = load_table(spark, sf, "orders")
    old = _files(before)
    assert before.count() == _duck_rows(f"SELECT count(*) FROM '{sf}/orders.parquet'")[0][0]
    path = os.path.join(sf, "orders.parquet")
    t = pq.read_table(path)
    kept = t.filter(pc.not_equal(pc.bit_wise_and(t["o_orderkey"], 3), 0))
    assert 0 < kept.num_rows < t.num_rows
    pq.write_table(kept, path + ".tmp")
    os.replace(path + ".tmp", path)
    after = load_table(spark, sf, "orders")
    assert _files(after) != old
    assert sorted(r.o_orderkey for r in after.select("o_orderkey").collect()) == sorted(
        kept["o_orderkey"].to_pylist()
    )
    # the old copy is never rewritten: a session still reading it is safe
    assert all(os.path.isdir(d) for d in old)


def test_enough_splits_reads_the_original(spark, tmp_path, monkeypatch):
    """With at least ``defaultParallelism`` splits (here: a split size
    of one byte) nothing is staged and every read is the original
    file's, with the kept schema."""
    sf = _copy_dataset(tmp_path / "sf")
    monkeypatch.setattr(tables, "_SPLIT_BYTES", 1)
    for name in ("orders", "events"):
        _schema, split, _nanos = tables._scan(spark, sf, name)
        assert split is None
        df = load_table(spark, sf, name)
        assert _files(df) == {sf}
        assert df.count() == _duck_rows(f"SELECT count(*) FROM '{sf}/{name}.parquet'")[0][0]
    root = os.path.dirname(session_cache.shared_copy(sf, "probe", os.makedirs))
    assert not [p for p in os.listdir(root) if p.startswith("split")]
