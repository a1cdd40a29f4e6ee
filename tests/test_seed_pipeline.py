"""Golden replay: the Spark seed pipeline over the reference's own
captured logs must reproduce output/PE_firms.csv exactly (SURVEY §5
test strategy — log-replay + golden outputs). The reference capture
is not part of the repo, so the two golden tests skip where it is
absent; the pure-Python replay of the seed contract over the
committed synthetic log checks the same pipeline everywhere."""

from __future__ import annotations

import csv
import importlib.util
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pe_firm_investment_database_pipeline_spark.plans.seed_pipeline import (
    LOGS_GLOB,
    extract_pe_firms,
    read_response_log,
)

GOLDEN_MAIN = Path("/root/reference/output/PE_firms.csv")
GOLDEN_DETAILED = Path("/root/reference/output/detailed_PE.csv")
# the reference capture's own response logs, which produced the goldens
REFERENCE_LOGS = GOLDEN_MAIN.parents[1] / "logs"
REFERENCE_LOGS_GLOB = str(REFERENCE_LOGS / "*.jsonl")


def _needs(golden: Path):
    return pytest.mark.skipif(
        not (golden.is_file() and REFERENCE_LOGS.is_dir()),
        reason=f"reference capture absent: needs {golden} and {REFERENCE_LOGS}",
    )


def _read_golden(path: Path) -> list[dict]:
    with path.open(newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


@_needs(GOLDEN_MAIN)
def test_golden_pe_firms(spark):
    got = {
        (r["FullName"], r["Website"])
        for r in extract_pe_firms(spark, REFERENCE_LOGS_GLOB)
        .select("FullName", "Website")
        .collect()
    }
    want = {(r["FullName"], r["Website"]) for r in _read_golden(GOLDEN_MAIN)}
    assert got == want
    assert len(got) == 28


@_needs(GOLDEN_DETAILED)
def test_golden_detailed_pe(spark):
    """7-col detailed view matches detailed_PE.csv (string columns;
    lat/lon compared as floats — CSV text vs JSON double)."""
    rows = {
        r["FullName"]: r
        for r in extract_pe_firms(spark, REFERENCE_LOGS_GLOB).collect()
    }
    golden = _read_golden(GOLDEN_DETAILED)
    assert set(rows) == {g["FullName"] for g in golden}
    for g in golden:
        r = rows[g["FullName"]]
        assert (r["Website"] or "") == g["Website"]
        assert (r["Phone"] or "") == g["Phone"]
        assert (r["Email"] or "") == g["Email"]
        assert abs(float(r["Latitude"]) - float(g["Latitude"])) < 1e-9
        assert abs(float(r["Longitude"]) - float(g["Longitude"])) < 1e-9
        assert (r["LongLatAddress"] or "") == g["LongLatAddress"]


def test_corrupt_line_tolerance(spark, tmp_path):
    """PERMISSIVE scan skips bad lines the way seed_aic.py:318-321
    does (skip + continue), rather than failing the job."""
    p = tmp_path / "log.jsonl"
    good = (
        '{"datetime":"2025-01-01T00:00:00","url":"u","status":200,'
        '"headers":{},"JSON":{"Items":{"$values":[{"FullName":"X",'
        '"Website":"https://x.com","LongLatAddress":"Sydney Australia",'
        '"filter-Member Type":"PE"}]}}}'
    )
    p.write_text(good + "\n{not json at all\n" + good + "\n")
    # Spark disallows referencing only _corrupt_record on an uncached
    # PERMISSIVE scan (SPARK-21610) — cache first, as documented.
    df = read_response_log(spark, str(p)).cache()
    assert df.count() == 3
    assert df.where(F.col("_corrupt_record").isNotNull()).count() == 1
    firms = extract_pe_firms(spark, str(p))
    assert firms.count() == 1
    assert firms.first()["FullName"] == "X"


def test_csv_roundtrip_sink(spark, tmp_path):
    """snk_csv: 2-col projection written with header, read back equal
    (seed_aic.py:356-366 export shape)."""
    out = str(tmp_path / "pe_firms_csv")
    firms = extract_pe_firms(spark).select("FullName", "Website")
    firms.coalesce(1).write.option("header", True).mode("overwrite").csv(out)
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["FullName", "Website"]
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in firms.collect()}


# -- the committed synthetic log ---------------------------------------------

LOG_DIR = Path(LOGS_GLOB).parent
SEVEN = ("FullName", "Website", "Phone", "Email", "Latitude", "Longitude",
         "LongLatAddress")


def _replay(paths):
    """The seed contract in plain Python, line by line as seed_aic.py
    does it: json.loads each line and skip the corrupt ones, keep a
    payload whose Items.$values is non-empty with a FullName on its
    first element, explode it, keep PE / private equity members in
    Australia, and dedup by FullName keeping the first seen."""
    corrupt, members, kept, firms = 0, [], [], {}
    for path in paths:
        for line in path.read_text(encoding="utf-8").splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                continue
            values = ((rec.get("JSON") or {}).get("Items") or {}).get("$values")
            if not values or values[0].get("FullName") is None:
                continue
            members.extend(values)
            for m in values:
                if m.get("filter-Member Type") in ("PE", "private equity") and (
                    "Australia" in (m.get("LongLatAddress") or "")
                ):
                    kept.append(m)
                    firms.setdefault(m["FullName"], m)
    return corrupt, members, kept, firms


def test_log_regenerates_from_its_seeded_script(tmp_path):
    """The committed log is exactly what its generator writes."""
    spec = importlib.util.spec_from_file_location("aic_log_gen", LOG_DIR / "generate.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.write(tmp_path)
    made = sorted(p.name for p in tmp_path.glob("*.jsonl"))
    assert made == sorted(p.name for p in LOG_DIR.glob("*.jsonl"))
    for name in made:
        assert (tmp_path / name).read_bytes() == (LOG_DIR / name).read_bytes(), name


def test_python_replay_matches_spark(spark):
    """An independent replay of the seed contract over the committed
    log agrees with the Spark plan, and the counts at each step are the
    ones data/aic_logs/generate.py states by construction: 2 corrupt
    lines, 4 x 40 = 160 member rows of 120 distinct members, 32 PE /
    private equity rows in Australia, 24 firms."""
    corrupt, members, kept, firms = _replay(sorted(LOG_DIR.glob("*.jsonl")))
    assert corrupt == 2
    assert len(members) == 160
    assert len({json.dumps(m, sort_keys=True) for m in members}) == 120
    assert len(kept) == 32
    assert len(firms) == 24
    # the precondition for distinct().dropDuplicates(["FullName"]) to
    # equal the oracle's SELECT DISTINCT: same name => same record
    by_name = {}
    for m in members:
        assert by_name.setdefault(m["FullName"], m) == m, m["FullName"]
    want = {tuple(m[c] for c in SEVEN) for m in firms.values()}
    got = {tuple(r) for r in extract_pe_firms(spark).select(*SEVEN).collect()}
    assert got == want
