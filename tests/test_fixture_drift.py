"""Fixture-drift guard: the driver regenerates /root/testdata between
rounds and has changed physical types before (events.ts went parquet
TIMESTAMP(NANOS) -> TIMESTAMP(MICROS) in round 3, silently killing every
events consumer). This test makes the NEXT regeneration fail loudly in
pytest instead of silently in the driver: every table in TABLES must
load, and the normalized events time axis must match DuckDB's
epoch_us(ts::TIMESTAMP) on the same file regardless of physical type.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from pe_firm_investment_database_pipeline_spark.sources.tables import (
    TABLES,
    load_table,
)


@pytest.mark.parametrize("name", TABLES)
def test_every_table_loads(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    # Force analysis + one actual scan task so physical-type surprises
    # (not just schema drift) surface here.
    assert len(df.columns) > 0
    assert df.limit(1).count() >= 0


def _write_events_parquet(path, ts_type):
    """Synthetic events.parquet with a known time axis in the given
    physical type, so every `_load_events` dtype branch stays covered
    even when the driver's fixture only ships one of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 2024-01-01T00:00:00Z + {0s, 1.5s, 1 day, ~6 months}: the July
    # point sits on the other side of a DST transition in most
    # northern-hemisphere zones, which is exactly what a session-tz-
    # dependent derivation gets wrong.
    base_us = 1_704_067_200_000_000
    offsets_us = [0, 1_500_000, 86_400_000_000, 182 * 86_400_000_000]
    n = len(offsets_us)
    table = pa.table(
        {
            "event_id": pa.array(list(range(n)), pa.int64()),
            "ts": pa.array(
                [base_us + o for o in offsets_us], pa.timestamp("us")
            ).cast(ts_type),
            "user_id": pa.array([10 + i for i in range(n)], pa.int64()),
            "event_type": pa.array([chr(97 + i) for i in range(n)]),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, path)
    return base_us, offsets_us


@pytest.mark.parametrize("session_tz", ["UTC", "America/New_York"])
@pytest.mark.parametrize(
    "ts_type_name", ["timestamp[ns]", "timestamp[us]", "timestamp[us, tz=UTC]"]
)
def test_events_loader_handles_every_physical_type(
    spark, tmp_path, ts_type_name, session_tz
):
    """The fixture's ts physical type has already flipped once between
    rounds (nanos -> micros). All three branches — nanosAsLong int64,
    TIMESTAMP_NTZ, and instant TIMESTAMP — must yield the same
    ts_us/ts_ns/ts_date, in ANY session timezone and on BOTH sides of
    a DST transition (the synthetic axis includes a July point; a
    session-zone-coerced derivation is exactly one hour off there
    under America/New_York)."""
    import pyarrow as pa

    ts_type = {
        "timestamp[ns]": pa.timestamp("ns"),
        "timestamp[us]": pa.timestamp("us"),
        "timestamp[us, tz=UTC]": pa.timestamp("us", tz="UTC"),
    }[ts_type_name]
    sf_dir = str(tmp_path)
    base_us, offsets_us = _write_events_parquet(
        f"{sf_dir}/events.parquet", ts_type
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        ev = load_table(spark, sf_dir, "events")
        got = {
            r["event_id"]: r
            for r in ev.select("event_id", "ts_us", "ts_ns", "ts_date").collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert len(got) == len(offsets_us)
    for i, off in enumerate(offsets_us):
        want_us = base_us + off
        ctx = (ts_type_name, session_tz, i)
        assert got[i]["ts_us"] == want_us, ctx
        assert got[i]["ts_ns"] == want_us * 1000, ctx
        assert (
            got[i]["ts_date"].toordinal() - 719163  # days since 1970-01-01
            == want_us // 86_400_000_000
        ), ctx
    # ENGINE PARITY for the tz-annotated branch: DuckDB reads a
    # tz-annotated column as TIMESTAMPTZ and ts::TIMESTAMP converts
    # through its TimeZone setting — with the oracle zone pinned to
    # UTC (as tools/driver_sim.oracle_conn does) both engines must yield
    # identical epoch micros. An unpinned non-UTC host would shift
    # this branch by the zone offset.
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    want_duck = dict(
        con.sql(
            "SELECT event_id, epoch_us(ts::TIMESTAMP) "
            f"FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    )
    con.close()
    assert {k: v["ts_us"] for k, v in got.items()} == want_duck, (
        ts_type_name,
        session_tz,
    )


@pytest.mark.parametrize("elem_type_name", ["float32", "float64"])
def test_embeddings_quantization_survives_element_type_drift(
    spark, tmp_path, elem_type_name
):
    """The similarity operators quantize embeddings via an explicit
    CAST(x AS DOUBLE), so a fixture regeneration that flips the array
    element type between float and double must not change any
    quantized value (float32 values are exactly representable as
    doubles, so widening is lossless)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pe_firm_investment_database_pipeline_spark.plans.similarity import _emb_q

    vals = [[0.1, -0.25, 0.5, 1.0 / 3.0] * 16, [0.0] * 64]
    f32 = [[float(np.float32(x)) for x in row] for row in vals]
    elem = pa.float32() if elem_type_name == "float32" else pa.float64()
    table = pa.table(
        {
            "vec_id": pa.array([0, 1], pa.int64()),
            "label": pa.array(["a", "b"]),
            # identical float32-representable values in both widths
            "embedding": pa.array(f32, pa.list_(elem)),
        }
    )
    pq.write_table(table, f"{tmp_path}/embeddings.parquet")
    rows = {
        r["vec_id"]: (r["q"], r["nrm"])
        for r in _emb_q(spark, str(tmp_path)).collect()
    }
    want_q = [
        [int(np.floor(np.float64(np.float32(x)) * 1_000_000)) for x in row]
        for row in vals
    ]
    for vid, wq in enumerate(want_q):
        q, nrm = rows[vid]
        assert q == wq, (elem_type_name, vid)
        assert nrm == sum(v * v for v in wq)


def test_embeddings_are_nonnull_64dim(spark, sf_dir):
    """The similarity operators' contract with the fixture: every
    embedding is a non-null 64-element array. A regeneration that
    ships nulls or another width would make the Spark signature UDF
    raise (with a clear message — similarity._sig_pandas) while the
    DuckDB twin silently drops the row through its unnest join; this
    pins the contract so drift fails HERE first."""
    emb = load_table(spark, sf_dir, "embeddings")
    from pyspark.sql import functions as F

    bad = emb.where(
        F.col("embedding").isNull() | (F.size("embedding") != 64)
    ).count()
    assert bad == 0


def test_events_time_axis_matches_duckdb(spark, sf_dir):
    """ts_us/ts_ns/ts_date must be session-timezone-independent and agree
    with the DuckDB oracle's epoch_us(ts::TIMESTAMP) derivation."""
    ev = load_table(spark, sf_dir, "events")
    for col in ("ts_us", "ts_ns", "ts_date", "event_id"):
        assert col in ev.columns, f"events missing normalized column {col}"
    got = {
        r["event_id"]: (r["ts_us"], r["ts_ns"], r["ts_date"])
        for r in ev.select("event_id", "ts_us", "ts_ns", "ts_date")
        .orderBy("event_id")
        .limit(50)
        .collect()
    }
    want = duckdb.sql(
        f"""
        SELECT event_id,
               epoch_us(ts::TIMESTAMP) AS ts_us,
               epoch_us(ts::TIMESTAMP) * 1000 AS ts_ns,
               (ts::TIMESTAMP)::DATE AS ts_date
        FROM '{sf_dir}/events.parquet'
        ORDER BY event_id LIMIT 50
        """
    ).fetchall()
    assert len(got) == len(want) > 0
    for event_id, ts_us, ts_ns, ts_date in want:
        g_us, g_ns, g_date = got[event_id]
        assert g_us == ts_us, f"ts_us mismatch for event {event_id}"
        assert g_ns == ts_ns, f"ts_ns mismatch for event {event_id}"
        assert g_date == ts_date, f"ts_date mismatch for event {event_id}"
