"""Sink roundtrips: every writer produces files a fresh scan reads
back with the same content (SURVEY §2.1 snk_csv / snk_jsonl_append /
snk_json_nested)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from pe_firm_investment_database_pipeline_spark.sources.sinks import (
    append_jsonl,
    write_csv,
    write_nested_json,
)
from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_csv_sink_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv")
    df = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    write_csv(df, out)
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["n_nationkey", "n_name"]
    assert back.count() == df.count()
    assert {r["n_name"] for r in back.collect()} == {
        r["n_name"] for r in df.collect()
    }


def test_jsonl_append_accumulates(spark, tmp_path):
    """Two appends → both batches present; every line is valid JSON
    wrapped with metadata (seed_aic.py:146-155 shape)."""
    out = str(tmp_path / "log")
    df = load_table(spark, SF, "region").select("r_regionkey", "r_name")
    append_jsonl(df, out)
    append_jsonl(df, out)
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f), encoding="utf-8") as fh:
                lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == 2 * df.count()
    rec = json.loads(lines[0])
    assert set(rec) == {"datetime", "source", "JSON"}
    assert set(rec["JSON"]) == {"r_regionkey", "r_name"}
    # the appended log replays through the engine's own jsonl scan
    back = spark.read.json(out)
    assert back.count() == len(lines)


def test_nested_json_sink(spark, tmp_path):
    """Nested documents: one object per nation with customers
    collected as an array of structs."""
    out = str(tmp_path / "nested")
    c = load_table(spark, SF, "customer")
    n_input = c.count()
    write_nested_json(
        c,
        group_cols=["c_nationkey"],
        nest_cols=["c_custkey", "c_name"],
        path=out,
        nested_name="customers",
    )
    back = spark.read.json(out)
    assert {"c_nationkey", "customers", "n_customers"} <= set(back.columns)
    row = back.where(F.size("customers") > 0).first()
    assert row["n_customers"] == len(row["customers"])
    assert set(row["customers"][0].asDict()) == {"c_custkey", "c_name"}
    total = back.agg(F.sum("n_customers")).first()[0]
    assert total == n_input


def test_dynamic_partition_overwrite_touches_one_day(spark, tmp_path):
    """partitionOverwriteMode=dynamic must replace ONLY the partitions
    present in the incoming frame: after backfilling day 0, day 1's
    parquet files are the SAME paths with the same bytes (never
    rewritten), while day 0's content changed — the O(day) vs
    O(table) backfill distinction snk_partition_overwrite relies on."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path / "dynpart")
    df = spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "b"), (3, 1, "a"), (4, 1, "b")],
        schema="id long, day long, kind string",
    )
    df.write.mode("overwrite").partitionBy("day").parquet(out)

    def files(day):
        d = os.path.join(out, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    day1_before = files(1)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.where((F.col("day") == 0) & (F.col("kind") == "a")).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    assert files(1) == day1_before  # same files, same mtimes: untouched
    back = spark.read.parquet(out)
    assert back.where("day = 0").count() == 1
    assert back.where("day = 1").count() == 2


def test_compaction_reduces_file_count(spark):
    """snk_compact_files must physically compact: the fragmented
    staging dir holds many files per day partition, the compacted dir
    exactly one — with identical content (the entry's oracle checks
    content; this pins the file layout)."""
    import os

    import pytest

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        app_dir,
        shared_copy,
    )
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        snk_compact_files,
    )

    sf = "/root/testdata/sf0.001"
    snk_compact_files(spark, sf).collect()

    def day_file_counts(root):
        out = {}
        for d in os.listdir(root):
            if d.startswith("day="):
                full = os.path.join(root, d)
                out[d] = len(
                    [f for f in os.listdir(full) if f.endswith(".parquet")]
                )
        return out

    frag = day_file_counts(
        shared_copy(sf, "frag", lambda p: pytest.fail("frag not staged"))
    )
    comp = day_file_counts(app_dir(spark, sf, "compact"))
    assert set(frag) == set(comp) and frag
    assert all(n == 1 for n in comp.values()), comp
    assert sum(frag.values()) > sum(comp.values())


def test_zorder_prunes_2d(spark):
    """Layout proof from real parquet footers: for a day-only slice
    (the dimension the 1-D user-sorted layout does NOT order by), the
    user-sorted layout's row groups ALL intersect the predicate while
    the Z-ordered layout skips most of them — the point of
    bit-interleaved clustering: partial pruning power in every
    interleaved dimension instead of full power in exactly one."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        app_dir,
    )
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        _Z_BITS,
        snk_zorder_layout,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    sf = "/root/testdata/sf0.01"
    snk_zorder_layout(spark, sf).collect()  # writes the z layout
    zdir = app_dir(spark, sf, "zorder")

    # contrast layout: identical rows/columns, range-sorted by the
    # user coordinate only
    udir = app_dir(spark, sf, "usersort")
    (
        spark.read.parquet(zdir)
        .repartitionByRange(8, "ubits")
        .sortWithinPartitions("ubits")
        .write.mode("overwrite")
        .parquet(udir)
    )

    def row_group_hits(root, y0, y1):
        hit = total = 0
        for f in os.listdir(root):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            if md.num_row_groups == 0:
                continue
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            for rg in range(md.num_row_groups):
                total += 1
                sy = md.row_group(rg).column(cols["dbits"]).statistics
                if sy.max >= y0 and sy.min <= y1:
                    hit += 1
        return hit, total

    # a single mid-range day value that exists in the fixture
    days = sorted(
        r[0] for r in spark.read.parquet(zdir).select("dbits").distinct().collect()
    )
    mid = days[len(days) // 2]

    zhit, ztot = row_group_hits(zdir, mid, mid)
    uhit, utot = row_group_hits(udir, mid, mid)
    assert ztot >= 4 and utot >= 4  # both layouts actually split
    assert uhit == utot  # 1-D layout: every group spans all days
    assert zhit < ztot  # Z layout: day bits bound per z-range
    # and the rewrite lost nothing
    n_src = load_table(spark, sf, "events").count()
    assert spark.read.parquet(zdir).count() == n_src
