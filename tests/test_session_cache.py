"""Tests for the one staged-front store
(pe_firm_investment_database_pipeline_spark/functions/session_cache.py):
locked double-checked memoization, dataset-fingerprint re-keying, the
stale-application sweep, eviction by name and by owner, and the
staging-path recipe. The unit tests need no SparkSession (sessions
and frames are stand-in objects; ``front`` is type-agnostic); the
tests at the end run real entries at sf0.001."""

from __future__ import annotations

import os
import shutil
import threading
from types import SimpleNamespace

import pytest
from __spark_entry__ import SF0001

from pe_firm_investment_database_pipeline_spark.functions import session_cache as sc


class _FakeFrame:
    def __init__(self) -> None:
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True
        return self


def _session(app: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


def test_memoize_builds_once_and_hits(tmp_path):
    calls = []

    def build():
        calls.append(1)
        return _FakeFrame()

    s = _session("app-1")
    first = sc.front(s, str(tmp_path), "x", build)
    second = sc.front(s, str(tmp_path), "x", build)
    assert first is second
    assert len(calls) == 1
    sc.evict_named("x")


def test_memoize_concurrent_miss_builds_once(tmp_path):
    """Two threads racing the same cold key must share one build
    (the pre-fix check-then-insert pattern built twice, leaking one
    checkpoint's blocks until application exit)."""
    calls = []
    gate = threading.Barrier(2)
    results = []

    def build():
        calls.append(1)
        return _FakeFrame()

    def run():
        gate.wait()
        results.append(sc.front(_session("app-1"), str(tmp_path), "race", build))

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(calls) == 1
    assert results[0] is results[1]
    sc.evict_named("race")


def test_front_stress_builds_each_key_once(tmp_path):
    """More threads than cores, a short switch interval: each key is
    built exactly once and every thread gets that one front."""
    import sys

    calls: dict[str, int] = {}
    lock = threading.Lock()

    def build(k):
        with lock:
            calls[k] = calls.get(k, 0) + 1
        return _FakeFrame()

    s, d = _session("app-1"), str(tmp_path)
    got: list[tuple[str, object]] = []

    def run():
        for k in ("k0", "k1", "k2", "k3") * 5:
            got.append((k, sc.front(s, d, "stress", lambda k=k: build(k), k, owner="e")))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=run) for _ in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in ts)
    assert calls == {"k0": 1, "k1": 1, "k2": 1, "k3": 1}
    assert len({(k, id(f)) for k, f in got}) == 4
    assert sc.evict_owner("e") == 4


def test_miss_sweeps_stale_apps_out_of_all_caches(tmp_path):
    """A miss evicts every other application's fronts — whichever
    family they belong to — so dead-application entries can't hide in
    a family that never misses again."""
    d = str(tmp_path)
    old = sc.front(_session("old-app"), d, "fam_a", _FakeFrame, owner="entry_a")
    live = sc.front(_session("app-2"), d, "fam_b", _FakeFrame)
    assert not any(k[0] == "old-app" for k in sc._FRONTS)
    assert not any(k[0] == "old-app" for k in sc._OWNERS)
    assert sc.front(_session("app-2"), d, "fam_b", _FakeFrame) is live
    assert old is not live
    sc.evict_named("fam_b")


def test_dataset_fingerprint_changes_on_rewrite(tmp_path):
    """Rewriting any table under sf_dir changes the fingerprint, so
    staged_key re-keys and consumers rebuild instead of serving a
    checkpoint of the old data."""
    p = tmp_path / "t.parquet"
    p.write_bytes(b"v1")
    fp1 = sc.dataset_fingerprint(str(tmp_path))
    os.utime(p, ns=(1, 1))
    fp_old = sc.dataset_fingerprint(str(tmp_path))
    assert fp_old != fp1 or fp_old[1] == fp1[1]
    p.write_bytes(b"v2-longer")
    fp2 = sc.dataset_fingerprint(str(tmp_path))
    assert fp2 != fp_old
    # nested part-file layout is covered too
    d = tmp_path / "u.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"xx")
    assert sc.dataset_fingerprint(str(tmp_path)) != fp2


def test_dataset_fingerprint_missing_dir_is_stable():
    assert sc.dataset_fingerprint("/nonexistent/path/xyz") == (0, 0)


def test_front_rebuilds_after_dataset_rewrite(tmp_path):
    p = tmp_path / "t.parquet"
    p.write_bytes(b"v1")
    s = _session("app-1")
    first = sc.front(s, str(tmp_path), "fp", _FakeFrame)
    p.write_bytes(b"v2-longer")
    assert sc.front(s, str(tmp_path), "fp", _FakeFrame) is not first
    sc.evict_named("fp")


def test_evict_staged_unpersists_and_clears(tmp_path):
    f = sc.front(_session("app-1"), str(tmp_path), "all", _FakeFrame)
    n = sc.evict_staged()
    assert n >= 1
    assert f.unpersisted
    assert not sc._FRONTS
    assert not sc._OWNERS


def test_evict_named_matches_key_parts(tmp_path):
    s, d = _session("app-1"), str(tmp_path)
    a = sc.front(s, d, "fam", _FakeFrame, "all")
    b = sc.front(s, d, "fam", _FakeFrame, "subset")
    other = sc.front(s, d, "other", _FakeFrame, "all")
    assert sc.evict_named("fam", "all") == 1
    assert a.unpersisted and not b.unpersisted and not other.unpersisted
    assert sc.evict_named("no_such_family") == 0
    assert sc.evict_named("fam") == 1
    assert sc.evict_named("other") == 1


def test_evict_owner_drops_only_owned_fronts(tmp_path):
    s, d = _session("app-1"), str(tmp_path)
    owned = sc.front(s, d, "fam", _FakeFrame, "result", owner="entry_x")
    shared = sc.front(s, d, "fam", _FakeFrame, "index")
    assert sc.evict_owner("entry_y") == 0
    assert sc.evict_owner("entry_x") == 1
    assert owned.unpersisted and not shared.unpersisted
    assert sc.front(s, d, "fam", _FakeFrame, "index") is shared
    sc.evict_named("fam")


def test_staging_path_recipe():
    import hashlib
    import tempfile

    h = hashlib.md5(b"/data/sf1").hexdigest()[:10]
    tmp = tempfile.gettempdir()
    assert sc.staging_path(None, "/data/sf1", "dpp") == os.path.join(tmp, f"pe_dpp_{h}")
    assert sc.staging_path(_session("local-1:x/y"), "/data/sf1", "frag") == (
        os.path.join(tmp, f"pe_frag_{h}_local-1_x_y")
    )


# --- real entries ----------------------------------------------------------


def test_owner_eviction_keeps_the_shared_scd2_subset(spark):
    """merge_scd2 owns the ("scd2", "all") front; join_scd2_asof's
    "nonpurchase" subset of the same family has no owner and stays."""
    from pe_firm_investment_database_pipeline_spark.plans.sessions import (
        join_scd2_asof,
        merge_scd2,
    )

    merge_scd2(spark, SF0001).count()
    join_scd2_asof(spark, SF0001).count()

    def subsets():
        return {k[4] for k in sc._FRONTS if k[3] == "scd2" and k[1] == SF0001}

    assert subsets() == {"all", "nonpurchase"}
    assert sc.evict_owner("merge_scd2") == 1
    assert subsets() == {"nonpurchase"}


def _result_front_owner_specs():
    from perfbench.workloads import RESULT_FRONT_OWNERS

    return [
        pytest.param(op, spec, id=op)
        for op, specs in sorted(RESULT_FRONT_OWNERS.items())
        for spec in specs
    ]


@pytest.mark.parametrize("op, spec", _result_front_owner_specs())
def test_result_front_owner_specs_evict(spark, op, spec):
    """The benchmark's static owner specs still name live fronts: after
    the owner runs, ``evict_named(*spec)`` drops at least one front,
    and it leaves the entry no front it owns."""
    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    all_queries()[op].fn(spark, SF0001).count()
    assert op in sc._OWNERS.values()
    assert sc.evict_named(*spec) >= 1
    assert op not in sc._OWNERS.values()


def test_dataset_rewrite_rebuilds_fixture_fronts(spark, tmp_path):
    """In one session, rewriting orders and events under a dataset dir
    must re-key the staged fixtures built from them (the DPP layout and
    the streaming feed, whose restaging also drops the checkpoints fed
    from it): every entry matches its DuckDB oracle before AND after
    the rewrite."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.harness import compare, duckdb_conn

    from pe_firm_investment_database_pipeline_spark.plans import all_queries

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for f in os.listdir(SF0001):
        shutil.copyfile(os.path.join(SF0001, f), os.path.join(sf, f))
    reg = all_queries()
    # snk_stream_parquet: a checkpointed sink over the restaged feed
    ops = ("join_dpp_prune", "stream_sliding", "snk_stream_parquet")

    def check():
        con = duckdb_conn(sf)
        try:
            for op in ops:
                compare(reg[op].fn(spark, sf), con, reg[op].oracle, op)
        finally:
            con.close()

    check()
    for table, key in (("orders", "o_orderkey"), ("events", "event_id")):
        path = os.path.join(sf, f"{table}.parquet")
        t = pq.read_table(path)
        kept = t.filter(pc.not_equal(pc.bit_wise_and(t[key], 3), 0))
        assert 0 < kept.num_rows < t.num_rows
        pq.write_table(kept, path + ".tmp")
        os.replace(path + ".tmp", path)
    check()
