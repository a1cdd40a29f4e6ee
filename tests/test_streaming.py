"""Streaming semantics tests beyond the oracle gate: true late-data
drops across micro-batches (SURVEY §2.9 stream_late_data).

Spark's watermark drop is lazy: a late row is only guaranteed to be
discarded once its window has already been evicted from state in an
EARLIER batch (a late row arriving in the same batch as the eviction
still merges). Hence three micro-batches: (1) seed + advance
watermark past the window, (2) evict/emit the window, (3) deliver the
late row — which must be dropped, leaving the emitted count at 1.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

SCHEMA = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP"


def _t(h, m):
    return dt.datetime(2024, 1, 1, h, m)


def test_late_row_dropped_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = (
        # batch 0: window [00:00) gets one row; max 03:30 → wm 02:30
        ("a", [(1, 1, _t(0, 30)), (2, 1, _t(3, 30))], 1000.0),
        # batch 1: wm 02:30 evicts window [00:00) → emitted with n=1
        ("b", [(5, 1, _t(3, 45))], 2000.0),
        # batch 2: late row at 00:45 (< wm) must be DROPPED
        ("c", [(3, 1, _t(0, 45)), (4, 1, _t(4, 0))], 3000.0),
    )
    for name, rows, mtime in files:
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema=SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.link(os.path.join(d, part), os.path.join(src, name + ".parquet"))
        os.utime(os.path.join(src, name + ".parquet"), (mtime, mtime))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("long").alias("win_start_s"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert dropped == 1  # the late 00:45 row

    out = {r["win_start_s"]: r["n"] for r in spark.table("late_test").collect()}
    win0 = int(_t(0, 0).replace(tzinfo=dt.timezone.utc).timestamp())
    # window [00:00, 01:00) finalized with ONLY the on-time row
    assert out.get(win0) == 1
    # trailing windows (end > final watermark 03:00) never emitted
    assert all(k <= win0 for k in out)


def test_watermarked_dedup_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark must (a) drop duplicates arriving
    within the watermark horizon and (b) EVICT key state once the
    watermark passes first-seen + delay, so the same key recurring
    later is emitted AGAIN — the bounded-state behavior that
    distinguishes it from plain dropDuplicates (which would emit the
    key exactly once, forever)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = (
        # batch 0: key (1) first seen 00:00; dup at 00:30 dropped
        # (NB the dup also REFRESHES the state expiry to 00:30+1h).
        # max ts 00:30 → wm 00:30-1h < 0 → state kept.
        ("a", [(1, 1, _t(0, 0)), (2, 1, _t(0, 30))], 1000.0),
        # batch 1: advance wm to 04:00-1:00 = 03:00 > expiry 01:30 →
        # key (1)'s state becomes evictable.
        ("b", [(4, 2, _t(4, 0))], 2000.0),
        # batch 2: spacer — eviction is lazy, guarantee it lands in a
        # batch BEFORE the key recurs (same discipline as the
        # late-data test above).
        ("c", [(9, 3, _t(4, 30))], 3000.0),
        # batch 3: key (1) recurs AFTER eviction → emitted again.
        ("d", [(5, 1, _t(5, 0))], 4000.0),
    )
    for name, rows, mtime in files:
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema=SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.link(os.path.join(d, part), os.path.join(src, name + ".parquet"))
        os.utime(os.path.join(src, name + ".parquet"), (mtime, mtime))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id", "event_id")
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = sorted(
        (r["user_id"], r["event_id"])
        for r in spark.table("wm_dedup_test").collect()
    )
    # key 1: first-seen (event 1) + post-eviction recurrence (event
    # 5); dup 2 suppressed. keys 2, 3: single emissions.
    assert rows == [(1, 1), (1, 5), (2, 4), (3, 9)]


def test_outer_interval_join_nulls_after_watermark(spark, tmp_path):
    """stream_join_interval_outer's across-batch contract: a view with
    no purchase within the hour is emitted WITH NULLS only after the
    global watermark passes view_ts + 1h — never in the batch that
    buffered it (a match could still arrive). Three micro-batches:
    (0) unmatched view V1 at 00:00 + a matched pair (wm stays < 0, no
    emission for V1), (1) both sides jump to ~03:00 → wm 02:00 > V1's
    01:00 expiry, (2) spacer so the lazy eviction lands. The null row
    must appear in batch >= 2."""
    from pe_firm_investment_database_pipeline_spark.streaming.windows import (
        _INTERVAL_COND,
    )

    ev_schema = "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP"
    src = str(tmp_path / "src")
    os.makedirs(src)
    files = (
        ("a", [(1, 1, "view", _t(0, 0)),
               (2, 2, "view", _t(0, 30)), (3, 2, "purchase", _t(0, 45))], 1000.0),
        ("b", [(4, 3, "view", _t(3, 0)), (5, 3, "purchase", _t(3, 10))], 2000.0),
        ("c", [(6, 4, "view", _t(4, 0)), (7, 4, "purchase", _t(4, 5))], 3000.0),
    )
    for name, rows, mtime in files:
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema=ev_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.link(os.path.join(d, part), os.path.join(src, name + ".parquet"))
        os.utime(os.path.join(src, name + ".parquet"), (mtime, mtime))

    def side():
        return (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    views = (
        side()
        .where("event_type = 'view'")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        side()
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = views.join(buys, F.expr(_INTERVAL_COND), "leftOuter").select(
        "user_id", "view_id", "buy_id"
    )

    batches: list[tuple[int, list]] = []

    def sink(df, bid):
        batches.append((bid, df.collect()))

    q = (
        joined.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = {
        (r["view_id"], r["buy_id"]): bid for bid, rows in batches for r in rows
    }
    # the matched pair flows through as a normal inner result
    assert emitted.get((2, 3)) is not None
    # exactly one null row: V1 — and only after the watermark passed
    nulls = {k: bid for k, bid in emitted.items() if k[1] is None}
    assert set(nulls) == {(1, None)}
    assert nulls[(1, None)] >= 2, nulls
    # V1 was NOT emitted in its arrival batch
    assert emitted[(1, None)] != 0


def test_stream_parquet_sink_exactly_once(spark):
    """The checkpointed file sink must be idempotent: a second
    availableNow run over the same input and checkpoint commits no new
    files, so the read-back aggregate is identical — and the output
    directory is physically partitioned by the epoch-day column."""
    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        staging_path,
    )
    from pe_firm_investment_database_pipeline_spark.streaming import windows as SW

    sf = "/root/testdata/sf0.001"
    r1 = {
        r["day"]: (r["n_purchases"], r["total_value"])
        for r in SW.snk_stream_parquet(spark, sf).collect()
    }
    r2 = {
        r["day"]: (r["n_purchases"], r["total_value"])
        for r in SW.snk_stream_parquet(spark, sf).collect()
    }
    assert r1 and r1 == r2
    out = staging_path(spark, sf, "stream_sink")
    assert any(d.startswith("day=") for d in os.listdir(out))


def test_stream_dedup_lsh_multibatch_and_idempotent(spark):
    """The streaming LSH dedup must (a) actually process the staged
    input in MULTIPLE micro-batches (maxFilesPerTrigger=2 over a
    4-file input — otherwise it degenerates to the batch op with
    extra steps), (b) equal its batch twin dedup_incremental_lsh
    exactly, and (c) be idempotent under re-run with the same
    checkpoint (exactly-once sink: no duplicated pairs)."""
    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        staging_path,
    )
    from pe_firm_investment_database_pipeline_spark.plans import textops
    from pe_firm_investment_database_pipeline_spark.streaming import windows as SW

    sf = "/root/testdata/sf0.01"
    streamed = {
        (r["doc_new"], r["doc_idx"], r["est_jaccard"])
        for r in SW.stream_dedup_lsh(spark, sf).collect()
    }
    batch = {
        (r["doc_new"], r["doc_idx"], r["est_jaccard"])
        for r in textops.dedup_incremental_lsh(spark, sf).collect()
    }
    assert streamed == batch and streamed
    # multiple micro-batches: the checkpoint's offset log has >1 entry
    ck = staging_path(spark, sf, "stream_lshdedup_ck")
    offsets = [f for f in os.listdir(os.path.join(ck, "offsets")) if f.isdigit()]
    assert len(offsets) > 1, f"expected >1 micro-batch, got {sorted(offsets)}"
    # idempotent re-run: same checkpoint, nothing new processed
    rerun = {
        (r["doc_new"], r["doc_idx"], r["est_jaccard"])
        for r in SW.stream_dedup_lsh(spark, sf).collect()
    }
    assert rerun == streamed


def test_stateful_agg_recovers_from_checkpoint(spark, tmp_path):
    """Checkpoint restart recovers windowed-aggregation STATE, not
    just source offsets: run 1 processes an in-progress window and
    stops; new data for the SAME window arrives; run 2 (same
    checkpoint) must merge it into the recovered state and emit one
    combined row — the durability contract a production stream relies
    on across deploys. A fresh-checkpoint run over only the second
    file would emit n=1; recovery makes it n=3."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    os.makedirs(src)

    def land(name, rows, mtime):
        d = str(tmp_path / name)
        spark.createDataFrame(rows, schema=SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.link(os.path.join(d, part), os.path.join(src, name + ".parquet"))
        os.utime(os.path.join(src, name + ".parquet"), (mtime, mtime))

    def run(qname):
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").cast("long").alias("win_start_s"), "n"
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .option("checkpointLocation", ck)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["win_start_s"]: r["n"] for r in spark.table(qname).collect()
        }

    # run 1: two rows land in window [00:00); state checkpointed
    land("a", [(1, 1, _t(0, 10)), (2, 1, _t(0, 20))], 1000.0)
    first = run("ck_recovery_1")
    win0 = int(_t(0, 0).replace(tzinfo=dt.timezone.utc).timestamp())
    assert first.get(win0) == 2

    # run 2: one MORE row for the same window, restarted from ck
    land("b", [(3, 1, _t(0, 40))], 2000.0)
    second = run("ck_recovery_2")
    assert second.get(win0) == 3  # 2 recovered from state + 1 new


def test_upsert_foreachbatch_idempotent_rerun(spark):
    """stream_upsert_foreachbatch must return the same keyed state on
    re-invocation against the existing checkpoint (zero new batches →
    state recovered from the newest on-disk version, not an empty
    frame) — the bench and driver both invoke entries repeatedly in
    one session."""
    from pe_firm_investment_database_pipeline_spark.streaming.windows import (
        stream_upsert_foreachbatch,
    )

    sf = "/root/testdata/sf0.001"
    first = {
        r["user_id"]: (r["ts_us"], r["event_id"])
        for r in stream_upsert_foreachbatch(spark, sf).collect()
    }
    assert first  # non-trivial state
    again = {
        r["user_id"]: (r["ts_us"], r["event_id"])
        for r in stream_upsert_foreachbatch(spark, sf).collect()
    }
    assert again == first


def test_stateful_ops_run_on_rocksdb_backend(spark):
    """The state-store backend a 100 TB deployment actually runs
    (RocksDB, changelog-checkpointable) must produce byte-identical
    results to the default HDFS-backed store for the custom stateful
    operator and the watermarked dedup."""
    from pe_firm_investment_database_pipeline_spark.streaming.stateful import (
        stream_custom_state,
    )

    sf = "/root/testdata/sf0.001"
    conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    baseline = {
        r["user_id"]: (r["n_events"], r["n_purchases"])
        for r in stream_custom_state(spark, sf).collect()
    }
    assert baseline
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, rocks)
    try:
        rocksdb = {
            r["user_id"]: (r["n_events"], r["n_purchases"])
            for r in stream_custom_state(spark, sf).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    assert rocksdb == baseline


def test_python_stream_source_drops_its_sink_view(spark):
    """src_python_stream_source reads its memory sink into the
    checkpointed aggregate and then drops the sink's temp view: after
    two rebuilds (the "pyss" front evicted between them) the catalog
    holds no pe_pyss_* view, and both builds return the full feed."""
    from __spark_entry__ import SF0001

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        evict_named,
    )
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        _PYSS_N,
        src_python_stream_source,
    )

    evict_named("pyss")
    first = src_python_stream_source(spark, SF0001).collect()
    evict_named("pyss")
    second = src_python_stream_source(spark, SF0001).collect()
    assert sorted(first) == sorted(second)
    assert sum(r["n"] for r in first) == _PYSS_N
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("pe_pyss_")]
    assert views == []
