"""Behavior pins for round-8 operators — mechanism-level assertions
beyond the registry-wide oracle parity sweep (tests/test_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pe_firm_investment_database_pipeline_spark.plans import all_queries

_Q = all_queries()


def test_dq_order_totals_recon_accounting_identities(spark, sf_dir):
    """Per-priority counters must reconcile against directly-computed
    table totals: order counts partition, n_exact <= n_orders, and
    |net| <= abs delta by the triangle inequality."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = _Q["dq_order_totals_recon"].fn(spark, sf_dir).collect()
    n_orders_total = load_table(spark, sf_dir, "orders").count()
    n_items_total = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r["n_orders"] for r in rows) == n_orders_total
    # every lineitem's order exists (fixture FK-clean), so item counts
    # partition too
    assert sum(r["n_items"] for r in rows) == n_items_total
    for r in rows:
        assert 0 <= r["n_exact"] <= r["n_orders"]
        assert 0 <= r["n_childless"] <= r["n_orders"]
        assert abs(r["net_delta_c"]) <= r["abs_delta_c"]


def test_graph_neighbor_jaccard_replay(spark, sf_dir):
    """Python replay of J = |N(x) cap N(y)| / |N(x) cup N(y)| over the
    same LSH edge set, including the inclusion-exclusion union size."""
    from pe_firm_investment_database_pipeline_spark.plans.textops import (
        dedup_minhash_lsh,
    )

    edges = {
        tuple(sorted((r["doc1"], r["doc2"])))
        for r in dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    got = {
        (r["doc1"], r["doc2"]): r
        for r in _Q["graph_neighbor_jaccard"].fn(spark, sf_dir).collect()
    }
    import itertools

    all_pairs = set()
    for ns in adj.values():
        for x, y in itertools.combinations(sorted(ns), 2):
            all_pairs.add((x, y))
    assert set(got) == all_pairs
    for (x, y), r in got.items():
        inter = len(adj[x] & adj[y])
        union = len(adj[x] | adj[y])
        assert r["inter"] == inter
        assert r["deg1"] == len(adj[x]) and r["deg2"] == len(adj[y])
        assert union == r["deg1"] + r["deg2"] - inter
        assert r["jaccard_ppm"] == inter * 1_000_000 // union
        assert 0 < r["jaccard_ppm"] <= 1_000_000


def test_ts_theil_sen_replay_and_robustness(spark, sf_dir):
    """Doubled-median of pairwise slopes replayed in Python with
    trunc-toward-zero division — the sign-split contract."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("unix_date(ts_date)").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["y"]))
    got = {r["event_type"]: r for r in _Q["ts_theil_sen"].fn(spark, sf_dir).collect()}
    assert set(got) == set(series)
    for et, pts in series.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                num = (pts[j][1] - pts[i][1]) * 1_000_000
                den = pts[j][0] - pts[i][0]
                q = abs(num) // den
                slopes.append(q if num >= 0 else -q)
        slopes.sort()
        n = len(slopes)
        med2 = (
            2 * slopes[n // 2]
            if n % 2 == 1
            else slopes[n // 2 - 1] + slopes[n // 2]
        )
        assert got[et]["n_pairs"] == n
        assert got[et]["slope_ppm_x2"] == med2


def test_ml_chi2_feature_select_contingency_replay(spark, sf_dir):
    """chi2_milli recomputed from scratch contingency tables; top-5
    per language with (chi2 desc, token asc) tie order."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    import re

    tok_docs = [
        (r["doc_id"], r["lang"], set(re.findall(r"\S+", r["text"])))
        for r in docs
    ]
    n_tot = len(tok_docs)
    c_tot: dict = {}
    t_tot: dict = {}
    a_cnt: dict = {}
    for _, lang, toks in tok_docs:
        c_tot[lang] = c_tot.get(lang, 0) + 1
        for t in toks:
            t_tot[t] = t_tot.get(t, 0) + 1
            a_cnt[(lang, t)] = a_cnt.get((lang, t), 0) + 1
    expect: dict = {}
    for (lang, t), a in a_cnt.items():
        tt, ct = t_tot[t], c_tot[lang]
        if tt < n_tot and ct < n_tot:
            d = n_tot - tt - ct + a
            b, c = tt - a, ct - a
            chi2 = (
                1000 * n_tot * (a * d - b * c) ** 2
                // (tt * (n_tot - tt) * ct * (n_tot - ct))
            )
        else:
            chi2 = 0
        expect.setdefault(lang, []).append((-chi2, t, a))
    got = _Q["ml_chi2_feature_select"].fn(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["rank"])
        top = sorted(expect[lang])[:5]
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        for r, (neg_chi2, tok, a) in zip(rows, top):
            assert r["token"] == tok
            assert r["chi2_milli"] == -neg_chi2
            assert r["a_docs"] == a


def test_sec_t_closeness_tvd_replay(spark, sf_dir):
    """TVD recomputed in Python from raw band histograms, including
    the inclusion-exclusion fold for bands absent from a class."""
    from pe_firm_investment_database_pipeline_spark.plans.quality import (
        _LDIV_BAND_C,
        _TCLOSE_T_PPM,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.expr(
                "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
                f" div {_LDIV_BAND_C}"
            ).alias("band"),
        )
        .collect()
    )
    from collections import Counter

    g = Counter(r["band"] for r in rows)
    n_tot = len(rows)
    cls: dict = {}
    for r in rows:
        cls.setdefault((r["c_nationkey"], r["c_mktsegment"]), Counter())[
            r["band"]
        ] += 1
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in _Q["sec_t_closeness"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(cls)
    for key, hist in cls.items():
        n_c = sum(hist.values())
        num = sum(
            abs(hist.get(b, 0) * n_tot - gb * n_c) for b, gb in g.items()
        )
        tvd = num * 1_000_000 // (2 * n_c * n_tot)
        r = got[key]
        assert r["n_rows"] == n_c
        assert r["tvd_ppm"] == tvd
        assert r["t_ok"] == int(tvd <= _TCLOSE_T_PPM)


def test_ml_lift_gains_partitions_and_monotone_gains(spark, sf_dir):
    """Deciles partition the corpus, gains are monotone to 1e6, and
    no score cell straddles a band (grid-decile invariant)."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = sorted(
        _Q["ml_lift_gains"].fn(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n"] for r in rows) == n_docs
    assert all(0 <= r["decile"] <= 9 for r in rows)
    gains = [r["gain_ppm"] for r in rows]
    assert gains == sorted(gains)
    assert gains[-1] == 1_000_000
    assert rows[-1]["cum_pos"] == sum(r["n_pos"] for r in rows)


def test_ml_target_encode_shrinks_toward_global_mean(spark, sf_dir):
    """Encoded means sit strictly between the raw category mean and
    the global mean (shrinkage), replayed exactly in Python."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _TENC_M,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    raw = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("t_c"),
        )
        .collect()
    )
    sums: dict = {}
    for r in raw:
        s, n = sums.get(r["o_orderpriority"], (0, 0))
        sums[r["o_orderpriority"]] = (s + r["t_c"], n + 1)
    gsum = sum(s for s, _ in sums.values())
    n_tot = sum(n for _, n in sums.values())
    gmean = gsum // n_tot
    got = {
        r["o_orderpriority"]: r
        for r in _Q["ml_target_encode"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(sums)
    for cat, (s, n) in sums.items():
        r = got[cat]
        assert r["n"] == n
        assert r["raw_mean_c"] == s // n
        assert r["enc_c"] == (s + _TENC_M * gmean) // (n + _TENC_M)
        lo, hi = sorted((r["raw_mean_c"], gmean))
        assert lo - 1 <= r["enc_c"] <= hi + 1  # integer-division slack


def test_txt_zipf_check_head_replay(spark, sf_dir):
    """Top-20 head replayed from raw token counts with the pinned
    (freq desc, token asc) tie order."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )
    import re
    from collections import Counter

    texts = (
        load_table(spark, sf_dir, "documents").select("text").collect()
    )
    counts = Counter()
    for r in texts:
        counts.update(re.findall(r"\S+", r["text"]))
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = sorted(
        _Q["txt_zipf_check"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    f1 = head[0][1]
    assert [r["token"] for r in rows] == [t for t, _ in head]
    for i, (r, (tok, f)) in enumerate(zip(rows, head), start=1):
        assert r["rank"] == i and r["freq"] == f
        assert r["rf"] == i * f
        assert r["zipf_ratio_ppm"] == i * f * 1_000_000 // f1


def test_evt_stickiness_dau_mau_replay(spark, sf_dir):
    """MAU replayed brute-force in Python: for every observed day,
    count users active in the trailing 30-day window — the interval
    sweep must match the naive definition exactly."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _MAU_WINDOW_D,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("unix_date(ts_date)").alias("day"))
        .distinct()
        .collect()
    )
    by_user: dict = {}
    days = set()
    for r in ud:
        by_user.setdefault(r["user_id"], set()).add(r["day"])
        days.add(r["day"])
    got = {
        r["day"]: r
        for r in _Q["evt_stickiness_dau_mau"].fn(spark, sf_dir).collect()
    }
    assert set(got) == days
    for d in days:
        dau = sum(1 for s in by_user.values() if d in s)
        mau = sum(
            1
            for s in by_user.values()
            if any(d - _MAU_WINDOW_D + 1 <= a <= d for a in s)
        )
        r = got[d]
        assert r["dau"] == dau
        assert r["mau"] == mau
        assert r["mau"] >= r["dau"] > 0
        assert r["stickiness_ppm"] == dau * 1_000_000 // mau


def test_evt_calendar_heatmap_partitions(spark, sf_dir):
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = _Q["evt_calendar_heatmap"].fn(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n"] for r in rows) == total
    assert all(0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23 for r in rows)
    for r in rows:
        assert r["share_ppm"] == r["n"] * 1_000_000 // total


def test_sketch_cms_heavy_one_sided_error(spark, sf_dir):
    """CMS guarantee: est >= exact for every token; with a 16-bucket
    table and 31-token vocab at least one bucket collides, so SOME
    token must show a strictly positive overcount."""
    rows = _Q["sketch_cms_heavy"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r["bound_ok"] == 1 for r in rows)
    assert all(r["est"] >= r["freq"] for r in rows)
    assert all(r["overcount"] == r["est"] - r["freq"] for r in rows)
    assert any(r["overcount"] > 0 for r in rows)


def test_ml_cv_folds_exact_balance(spark, sf_dir):
    """Every (lang, fold) cell holds floor(n/k) or ceil(n/k) docs —
    the exact-balance property the stratified rank-mod gives."""
    from pe_firm_investment_database_pipeline_spark.plans.datapipe import (
        _CV_K,
    )

    rows = _Q["ml_cv_folds"].fn(spark, sf_dir).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, cells in by_lang.items():
        n_lang = cells[0]["n_lang"]
        assert sum(c["n_docs"] for c in cells) == n_lang
        for c in cells:
            assert c["n_docs"] in (n_lang // _CV_K, -(-n_lang // _CV_K))
            assert c["balanced_ok"] == 1


def test_profile_wasserstein_replay(spark, sf_dir):
    """Python replay of W1 between the early/late value distributions
    on the cents grid, including the milli-cent truncation."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts_us", F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"))
        .collect()
    )
    mid = (min(r["ts_us"] for r in ev) + max(r["ts_us"] for r in ev)) // 2
    by_type: dict = {}
    for r in ev:
        a, b = by_type.setdefault(r["event_type"], ([], []))
        (a if r["ts_us"] < mid else b).append(r["v"])
    got = {
        r["event_type"]: r
        for r in _Q["profile_wasserstein_drift"].fn(spark, sf_dir).collect()
    }
    for et, (a, b) in by_type.items():
        na, nb = len(a), len(b)
        grid = sorted(set(a) | set(b))
        num = 0
        ca = cb = 0
        for i, v in enumerate(grid):
            ca += sum(1 for x in a if x == v)
            cb += sum(1 for x in b if x == v)
            gap = grid[i + 1] - v if i + 1 < len(grid) else 0
            num += abs(ca * nb - cb * na) * gap
        expect = (num * 1000) // (na * nb) if na and nb else None
        assert got[et]["w1_mc"] == expect
        assert got[et]["n_early"] == na and got[et]["n_late"] == nb


def test_graph_modularity_sums_and_bounds(spark, sf_dir):
    """Intra-edge counts must sum to <= m (cross-lang edges are the
    remainder), degree sums to 2m, and each contribution respects the
    modularity bound |q_c| <= 1e6."""
    rows = _Q["graph_modularity"].fn(spark, sf_dir).collect()
    assert rows, "modularity table empty"
    m = rows[0]["m_edges"]
    assert all(r["m_edges"] == m for r in rows)
    assert sum(r["intra_edges"] for r in rows) <= m
    assert sum(r["deg_sum"] for r in rows) == 2 * m
    q = rows[0]["q_ppm"]
    for r in rows:
        assert abs(r["q_contrib_ppm"]) <= 1_000_000
        assert r["q_ppm"] == q
    assert q == sum(r["q_contrib_ppm"] for r in rows)
    assert -1_000_000 <= q <= 1_000_000


def test_sec_k_anonymity_ladder_monotone(spark, sf_dir):
    """Generalizing can only merge classes: up the ladder, class count
    shrinks, k_min grows, suppression shrinks; row totals constant."""
    rows = {r["level"]: r for r in _Q["sec_k_anonymity"].fn(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2}
    n = rows[0]["n_rows"]
    assert rows[1]["n_rows"] == n and rows[2]["n_rows"] == n
    assert rows[0]["n_classes"] >= rows[1]["n_classes"] >= rows[2]["n_classes"]
    assert rows[0]["k_min"] <= rows[1]["k_min"] <= rows[2]["k_min"]
    assert (
        rows[0]["rows_suppressed"]
        >= rows[1]["rows_suppressed"]
        >= rows[2]["rows_suppressed"]
    )
    for r in rows.values():
        assert 0 <= r["share_anon_ppm"] <= 1_000_000
        assert r["k_ok"] == (1 if r["k_min"] >= 5 else 0)


def test_evt_cuped_adjust_replay(spark, sf_dir):
    """Python replay of the pooled-theta CUPED arithmetic, including
    every sign-split truncation step."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts_us", (F.col("event_type") == "purchase").cast("long").alias("p"))
        .collect()
    )
    mid = (min(r["ts_us"] for r in ev) + max(r["ts_us"] for r in ev)) // 2
    xy: dict = {}
    for r in ev:
        x, y = xy.get(r["user_id"], (0, 0))
        if r["ts_us"] < mid:
            x += r["p"]
        else:
            y += r["p"]
        xy[r["user_id"]] = (x, y)

    def sdiv(num, den):
        return (num * 1_000_000) // den if num >= 0 else -((-num) * 1_000_000 // den)

    n = len(xy)
    sx = sum(x for x, _ in xy.values())
    sy = sum(y for _, y in xy.values())
    sxy = sum(x * y for x, y in xy.values())
    sxx = sum(x * x for x, _ in xy.values())
    t = [(x, y) for u, (x, y) in xy.items() if u % 2 == 0]
    c = [(x, y) for u, (x, y) in xy.items() if u % 2 == 1]
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    dy = sum(y for _, y in t) * len(c) - sum(y for _, y in c) * len(t)
    dx = sum(x for x, _ in t) * len(c) - sum(x for x, _ in c) * len(t)
    nn = len(t) * len(c)
    row = _Q["evt_cuped_adjust"].fn(spark, sf_dir).collect()[0]
    assert row["n_users"] == n
    assert row["dy_ppm"] == sdiv(dy, nn)
    assert row["dx_ppm"] == sdiv(dx, nn)
    assert row["theta_ppm"] == sdiv(cov, varx)
    assert row["adj_delta_ppm"] == sdiv(
        sdiv(dy, nn) * 1_000_000 - sdiv(cov, varx) * sdiv(dx, nn),
        1_000_000_000_000,
    )


def test_dq_gap_inventory_replay(spark, sf_dir):
    """Brute-force replay of per-user gap statistics for one type."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.expr("unix_date(ts_date)").alias("day"))
        .distinct()
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], set()).add(r["day"])
    n_gaps = missing = max_gap = active = span = 0
    for days in by_user.values():
        ds = sorted(days)
        active += len(ds)
        span += ds[-1] - ds[0] + 1
        for a, b in zip(ds, ds[1:]):
            if b > a + 1:
                n_gaps += 1
                missing += b - a - 1
                max_gap = max(max_gap, b - a - 1)
    got = {
        r["event_type"]: r for r in _Q["dq_gap_inventory"].fn(spark, sf_dir).collect()
    }["purchase"]
    assert got["n_users"] == len(by_user)
    assert got["n_gaps"] == n_gaps
    assert got["missing_days"] == missing
    assert got["max_gap_days"] == max_gap
    assert got["coverage_ppm"] == (active * 1_000_000) // span


def test_ml_bootstrap_ci_brackets_and_determinism(spark, sf_dir):
    """CI must bracket the point estimate on this fixture, bounds must
    be ordered, and a second run must reproduce bit-identically."""
    r1 = _Q["ml_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    r2 = _Q["ml_bootstrap_ci"].fn(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert r1["n_boot"] == 20
    assert r1["ci_lo_c"] <= r1["ci_hi_c"]
    # Poisson-bootstrap means of a large sample concentrate around the
    # sample mean; the 90% CI easily covers it at fixture scale.
    assert r1["ci_covers"] == 1
    assert r1["ci_lo_c"] <= r1["mean_c"] <= r1["ci_hi_c"]


def test_ml_linreg_multivar_recovers_price_structure(spark, sf_dir):
    """numpy lstsq must agree with the exact Cramer solution to ppm
    truncation (the synthetic fixture draws price independently of
    quantity, so no sign structure is assumed — the pin is the
    solver agreement itself)."""
    import numpy as np

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.expr("CAST(round(l_quantity) AS BIGINT)").alias("x1"),
            F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x2"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
        )
        .collect()
    )
    got = {
        r["l_returnflag"]: r
        for r in _Q["ml_linreg_multivar"].fn(spark, sf_dir).collect()
    }
    flags = sorted({r["l_returnflag"] for r in li})
    for fl in flags:
        sub = [r for r in li if r["l_returnflag"] == fl]
        A = np.array([[1.0, r["x1"], r["x2"]] for r in sub])
        yv = np.array([float(r["y"]) for r in sub])
        coef, *_ = np.linalg.lstsq(A, yv, rcond=None)
        g = got[fl]
        assert g["beta_qty_ppm"] is not None
        # ppm truncation + float solver: agree within 1e-3 relative
        assert abs(g["beta_qty_ppm"] / 1e6 - coef[1]) <= max(
            1.0, abs(coef[1]) * 1e-3
        )
        assert abs(g["beta_disc_ppm"] / 1e6 - coef[2]) <= max(
            1.0, abs(coef[2]) * 1e-3
        )


def test_ts_periodogram_structure(spark, sf_dir):
    """Three period rows per type, exactly one peak flag set per type
    (modulo exact ties), and power is nonnegative."""
    rows = _Q["ts_periodogram_peaks"].fn(spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, rs in by_type.items():
        assert sorted(r["period"] for r in rs) == [7, 14, 30]
        assert all(r["power_ppm"] >= 0 for r in rs)
        peaks = [r for r in rs if r["is_peak"] == 1]
        assert len(peaks) >= 1
        top = max(r["power_ppm"] for r in rs)
        assert all(r["power_ppm"] == top for r in peaks)


def test_profile_embedding_drift_replay(spark, sf_dir):
    """numpy replay of the integer-centroid cosine, including the
    sign-split truncating per-dimension means."""
    import math

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .join(
            load_table(spark, sf_dir, "documents").select(
                F.col("doc_id").alias("vec_id"), "lang"
            ),
            "vec_id",
        )
        .select(
            "lang",
            F.expr(
                "transform(embedding, x ->"
                " CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
            ).alias("q"),
        )
        .collect()
    )

    def tdiv(s, n):
        return s // n if s >= 0 else -((-s) // n)

    dim = len(rows[0]["q"])
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r["q"])
    gsum = [sum(q[i] for r in rows for q in [r["q"]]) for i in range(dim)]
    gn = len(rows)
    g = [tdiv(s, gn) for s in gsum]
    got = {
        r["lang"]: r
        for r in _Q["profile_embedding_drift"].fn(spark, sf_dir).collect()
    }
    for lang, qs in by_lang.items():
        c = [tdiv(sum(q[i] for q in qs), len(qs)) for i in range(dim)]
        dot = sum(a * b for a, b in zip(c, g))
        nl = sum(a * a for a in c)
        ng = sum(b * b for b in g)
        expect = int(
            math.floor(dot / (math.sqrt(nl) * math.sqrt(ng)) * 1_000_000)
        )
        assert got[lang]["n_vecs"] == len(qs)
        assert got[lang]["cos_corpus_ppm"] == expect


def test_ml_gini_split_gain_replay(spark, sf_dir):
    """Brute-force best-split replay for one language with the exact
    per-term truncation chain."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _AUC_HASH,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.col("n_chars").alias("score"),
            (F.expr(_AUC_HASH) % 2 == 0).cast("long").alias("is_pos"),
        )
        .collect()
    )
    langs = sorted({r["lang"] for r in d})
    got = {r["lang"]: r for r in _Q["ml_gini_split_gain"].fn(spark, sf_dir).collect()}
    lang = langs[0]
    sub = sorted(
        (r for r in d if r["lang"] == lang), key=lambda r: r["score"]
    )
    n = len(sub)
    p = sum(r["is_pos"] for r in sub)
    best = None
    scores = sorted({r["score"] for r in sub})
    for s in scores:
        left = [r for r in sub if r["score"] <= s]
        nl, pl = len(left), sum(r["is_pos"] for r in left)
        if nl == n:
            continue
        nr, pr = n - nl, p - pl
        gain = (
            (2 * p * (n - p) * 10**6) // (n * n)
            - (2 * pl * (nl - pl) * 10**6) // (n * nl)
            - (2 * pr * (nr - pr) * 10**6) // (n * nr)
        )
        key = (-gain, s)
        if best is None or key < best:
            best = key
    assert got[lang]["gain_ppm"] == -best[0]
    assert got[lang]["split_at"] == best[1]
    assert got[lang]["n"] == n and got[lang]["n_pos"] == p


def test_stream_cdc_changelog_tombstone_semantics(spark, sf_dir):
    """The CDC state must equal the batch argmax with tombstone
    filtering, users whose newest event is an 'error' are absent, and
    no surviving row is an error record."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    newest = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts_us", "event_id", "event_type")
        .collect()
    ):
        k = r["user_id"]
        key = (r["ts_us"], r["event_id"])
        if k not in newest or key > newest[k][0]:
            newest[k] = (key, r["event_type"])
    survivors = {u for u, (_, et) in newest.items() if et != "error"}
    got = _Q["stream_cdc_changelog"].fn(spark, sf_dir).collect()
    assert {r["user_id"] for r in got} == survivors
    assert all(r["event_type"] != "error" for r in got)
    for r in got:
        assert (r["ts_us"], r["event_id"]) == newest[r["user_id"]][0]


def test_txt_keyphrase_textrank_replay(spark, sf_dir):
    """Python replay of 3 weighted-PageRank iterations over the
    filtered-adjacency word graph, including every truncation."""
    import re

    from pe_firm_investment_database_pipeline_spark.plans.textops import (
        STOPWORDS,
        _TR_BASE,
        _TR_ITERS,
        _TR_TOPK,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    edges: dict = {}
    for r in docs:
        ws = [w.lower() for w in re.findall(r"\S+", r["text"])]
        ws = [w for w in ws if w not in STOPWORDS]
        for a, b in zip(ws, ws[1:]):
            if a == b:
                continue
            edges[(a, b)] = edges.get((a, b), 0) + 1
            edges[(b, a)] = edges.get((b, a), 0) + 1
    wdeg: dict = {}
    for (a, _), w in edges.items():
        wdeg[a] = wdeg.get(a, 0) + w
    ranks = {v: _TR_BASE for v in wdeg}
    teleport = (15 * _TR_BASE) // 100
    for _ in range(_TR_ITERS):
        s: dict = {}
        for (a, b), w in edges.items():
            if a in ranks:
                s[b] = s.get(b, 0) + (ranks[a] * w) // wdeg[a]
        ranks = {v: teleport + (85 * x) // 100 for v, x in s.items()}
    expect = sorted(ranks.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_TOPK]
    got = sorted(
        _Q["txt_keyphrase_textrank"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["word"], r["textrank_scaled"]) for r in got] == expect
    assert [r["rank"] for r in got] == list(range(1, len(expect) + 1))


def test_sql_group_by_all_matches_explicit(spark, sf_dir):
    """GROUP BY ALL must equal the explicit grouping, row for row."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    got = {
        (r["o_orderpriority"], r["o_orderstatus"]): (r["n_orders"], r["total_c"])
        for r in _Q["sql_group_by_all"].fn(spark, sf_dir).collect()
    }
    expect = {
        (r["o_orderpriority"], r["o_orderstatus"]): (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("t"),
        )
        .collect()
    }
    assert got == expect


def test_sql_unpivot_reshapes_losslessly(spark, sf_dir):
    """Every (priority, metric) cell appears exactly once and the
    long values round-trip the wide aggregate."""
    rows = _Q["sql_unpivot_syntax"].fn(spark, sf_dir).collect()
    cells = {(r["o_orderpriority"], r["metric"]): r["value"] for r in rows}
    prios = {p for p, _ in cells}
    assert len(cells) == 3 * len(prios)
    for p in prios:
        assert cells[(p, "n_orders")] > 0
        assert cells[(p, "max_c")] <= cells[(p, "total_c")]


def test_src_zonemap_stats_prunability(spark, sf_dir):
    """Zone bounds must bracket each partition's days, years partition
    the table, and prune flags follow the zone rule exactly."""
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        _ZM_DATE_CUT,
        _ZM_PRICE_CUT_C,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = _Q["src_zonemap_stats"].fn(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "orders").count()
    assert sum(r["n_rows"] for r in rows) == total
    for r in rows:
        # a year partition's zone is inside that calendar year
        assert r["min_day"] <= r["max_day"]
        assert r["min_price_c"] <= r["max_price_c"]
        assert r["prune_date"] == int(r["max_day"] < _ZM_DATE_CUT)
        assert r["prune_price"] == int(r["max_price_c"] < _ZM_PRICE_CUT_C)
        assert r["prune_any"] == int(
            r["prune_date"] == 1 or r["prune_price"] == 1
        )
    # the date cut sits inside the fixture's year span, so BOTH
    # prunable and non-prunable partitions exist — the report is
    # non-degenerate
    assert any(r["prune_date"] == 1 for r in rows)
    assert any(r["prune_date"] == 0 for r in rows)


def test_dq_rules_engine_replay(spark, sf_dir):
    """Alert rows recomputed from the metric grid and the literal
    rule table — every violation present, no spurious rows."""
    from pe_firm_investment_database_pipeline_spark.plans.quality import (
        _DQ_RULES,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    grid = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("unix_date(ts_date)").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "sum_value_c"
            ),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    )
    expect = set()
    for r in grid:
        for rid, metric, op, th, scope in _DQ_RULES:
            if scope != "*" and scope != r["event_type"]:
                continue
            v = r[metric]
            if (op == "lt" and v < th) or (op == "gt" and v > th):
                expect.add((rid, r["event_type"], r["day"], metric, v, th))
    got = {
        (r["rule_id"], r["event_type"], r["day"], r["metric"], r["value"],
         r["threshold"])
        for r in _Q["dq_rules_engine"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_evt_markov_stationary_replay(spark, sf_dir):
    """3-step integer power iteration replayed in Python from the
    transition matrix entry's own output."""
    from pe_firm_investment_database_pipeline_spark.plans.sessions import (
        _MKV_BASE,
        _MKV_ITERS,
        evt_transition_matrix,
    )

    p = {
        (r["from_type"], r["to_type"]): r["p_permille"]
        for r in evt_transition_matrix(spark, sf_dir).collect()
    }
    states = sorted({a for a, _ in p})
    pi = {s: _MKV_BASE // len(states) for s in states}
    for _ in range(_MKV_ITERS):
        nxt: dict = {}
        for (a, b), pm in p.items():
            nxt[b] = nxt.get(b, 0) + (pi[a] * pm) // 1000
        pi = nxt
    got = {r["event_type"]: r for r in _Q["evt_markov_stationary"].fn(spark, sf_dir).collect()}
    assert {k: v["pi_ppm"] for k, v in got.items()} == pi
    order = sorted(pi.items(), key=lambda kv: (-kv[1], kv[0]))
    for rank, (s, _) in enumerate(order, 1):
        assert got[s]["rank"] == rank
    # mass is conserved up to truncation leak (< 1000 ppm per step)
    assert _MKV_BASE - sum(pi.values()) < 1000 * (_MKV_ITERS + 1) * len(states)


def test_ml_isotonic_calibration_properties(spark, sf_dir):
    """The fit must be nondecreasing in bin order, agree with raw
    rates where no pooling happened, and match a direct PAV solve on
    the ppm-truncated interval means."""
    rows = sorted(
        _Q["ml_isotonic_calibration"].fn(spark, sf_dir).collect(),
        key=lambda r: r["bin"],
    )
    iso = [r["iso_ppm"] for r in rows]
    assert iso == sorted(iso)
    # minimax replay
    n = [r["n"] for r in rows]
    p = [r["npos"] for r in rows]
    B = len(rows)
    import itertools

    def mean(j, k):
        return sum(p[j : k + 1]) * 1_000_000 // sum(n[j : k + 1])

    for i, r in enumerate(rows):
        expect = max(
            min(mean(j, k) for k in range(i, B)) for j in range(i + 1)
        )
        assert r["iso_ppm"] == expect
        assert r["is_pooled"] == int(r["iso_ppm"] != r["rate_ppm"])


def test_ts_downsample_lttb_replay(spark, sf_dir):
    """Python replay of the unrolled bucket-argmax chain, including
    carried anchors over empty buckets."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _LTTB_B,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("unix_date(ts_date)").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], {})[r["day"]] = r["y"]
    got: dict = {}
    for r in _Q["ts_downsample_lttb"].fn(spark, sf_dir).collect():
        got.setdefault(r["event_type"], {})[r["bucket"]] = (r["t"], r["y"])
    for et, dm in series.items():
        days = sorted(dm)
        tmin, tmax = days[0], days[-1]
        span = tmax - tmin
        pts = [(d - tmin, dm[d]) for d in days]
        interior = [
            (t, y, ((t - 1) * _LTTB_B) // max(span - 1, 1))
            for t, y in pts
            if 0 < t < span
        ]
        nxt: dict = {}
        for t, y, b in interior:
            st, sy, c = nxt.get(b, (0, 0, 0))
            nxt[b] = (st + t, sy + y, c + 1)
        nxt[_LTTB_B] = (span, dm[tmax], 1)
        px, py = 0, dm[tmin]
        assert got[et][-1] == (0, dm[tmin])
        for b in range(_LTTB_B):
            cands = [(t, y) for t, y, bb in interior if bb == b]
            nb = min(k for k in nxt if k > b)
            st, sy, c = nxt[nb]
            if not cands:
                assert b not in got[et]
                continue
            best = max(
                cands,
                key=lambda p_: (
                    abs((px * c - st) * (p_[1] - py) - (px - p_[0]) * (py * c - sy)),
                    -p_[0],
                ),
            )
            assert got[et][b] == best
            px, py = best
        assert got[et][_LTTB_B] == (span, dm[tmax])


def test_udaf_grouped_arrow_matches_pandas_twin(spark, sf_dir):
    """The Arrow grouped UDAF must agree with a direct Python sort
    replay of the doubled-median/quartile picks."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .collect()
    )
    groups: dict = {}
    for r in li:
        groups.setdefault((r["l_returnflag"], r["l_linestatus"]), []).append(
            int(round(r["l_quantity"]))
        )
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in _Q["udaf_grouped_arrow"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(groups)
    for key, qs in groups.items():
        s = sorted(qs)
        n = len(s)
        r = got[key]
        assert r["n"] == n
        assert r["med2"] == s[(n - 1) // 2] + s[n // 2]
        assert r["lo2"] == s[(n - 1) // 4] + s[n // 4]
        hi_idx2 = (3 * n) // 4 if (3 * n) // 4 < n else n - 1
        assert r["hi2"] == s[(3 * (n - 1)) // 4] + s[hi_idx2]


def test_agg_percentile_disc_rank_picks(spark, sf_dir):
    """Each discrete percentile must be the element at rank
    ceil(p*n) of the group's sorted values — an actual data value."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )
    import math

    o = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
        )
        .collect()
    )
    groups: dict = {}
    for r in o:
        groups.setdefault(r["o_orderpriority"], []).append(r["v"])
    got = {
        r["o_orderpriority"]: r
        for r in _Q["agg_percentile_disc"].fn(spark, sf_dir).collect()
    }
    for g, vs in groups.items():
        s = sorted(vs)
        n = len(s)
        r = got[g]
        assert r["n"] == n
        for p, name in ((25, "p25_c"), (50, "p50_c"), (75, "p75_c")):
            assert r[name] == s[math.ceil(n * p / 100) - 1]
            assert r[name] in vs  # an actual data value


def test_ts_sma_crossover_replay(spark, sf_dir):
    """Signals replayed: direction flips exactly where 7*s3 - 3*s7
    changes sign, and no signal is emitted inside warmup rows."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("unix_date(ts_date)").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["y"]))
    expect = set()
    for et, pts in series.items():
        pts.sort()
        ys = [y for _, y in pts]
        prev = None
        for i in range(len(pts)):
            if i < 6:
                continue
            s3 = sum(ys[i - 2 : i + 1])
            s7 = sum(ys[i - 6 : i + 1])
            sig = 1 if s3 * 7 > s7 * 3 else (-1 if s3 * 7 < s7 * 3 else 0)
            if prev is not None and sig != prev and sig != 0:
                expect.add((et, pts[i][0], sig, s3, s7))
            prev = sig
    got = {
        (r["event_type"], r["day"], r["direction"], r["s3"], r["s7"])
        for r in _Q["ts_sma_crossover"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_str_xml_roundtrip_lossless(spark, sf_dir):
    """Every row survives the XML roundtrip bit-exact (rt_ok = 1)."""
    rows = _Q["str_xml_roundtrip"].fn(spark, sf_dir).collect()
    assert len(rows) == 25
    assert all(r["rt_ok"] == 1 for r in rows)
    assert all(r["name_rt"] is not None for r in rows)


def test_ml_youden_threshold_replay(spark, sf_dir):
    """Brute-force J maximization over all thresholds for one
    language, with the highest-threshold tie rule."""
    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _AUC_HASH,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            F.col("n_chars").alias("score"),
            (F.expr(_AUC_HASH) % 2 == 0).cast("long").alias("is_pos"),
        )
        .collect()
    )
    got = {r["lang"]: r for r in _Q["ml_youden_threshold"].fn(spark, sf_dir).collect()}
    langs = sorted({r["lang"] for r in d})
    for lang in langs:
        sub = [r for r in d if r["lang"] == lang]
        P = sum(r["is_pos"] for r in sub)
        N = len(sub) - P
        best = None
        for t in sorted({r["score"] for r in sub}):
            tp = sum(1 for r in sub if r["score"] >= t and r["is_pos"])
            fp = sum(1 for r in sub if r["score"] >= t and not r["is_pos"])
            j = tp * N - fp * P
            key = (-j, -t)
            if best is None or key < best[0]:
                best = (key, t, tp, fp, j)
        r = got[lang]
        assert (r["best_score"], r["tp"], r["fp"]) == (best[1], best[2], best[3])
        j = best[4]
        expect_ppm = (
            (j * 1_000_000) // (P * N) if j >= 0 else -((-j) * 1_000_000 // (P * N))
        )
        assert r["j_ppm"] == expect_ppm
        assert r["n_pos"] == P and r["n_neg"] == N


def test_samp_pps_systematic_properties(spark, sf_dir):
    """The draw crosses every step boundary exactly once, selection
    probability tracks size (every selected row's weight interval
    contains a multiple of step), and the two-level prefix sum equals
    the naive global cumsum."""
    from pe_firm_investment_database_pipeline_spark.plans.datapipe import (
        _PPS_K,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    d = sorted(
        (
            (r["doc_id"], r["n_chars"])
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "n_chars")
            .collect()
        )
    )
    total = sum(w for _, w in d)
    step = total // _PPS_K
    cum = 0
    expect = []
    for doc_id, w in d:
        cum += w
        if (cum // step) > ((cum - w) // step):
            expect.append((doc_id, w, cum, cum // step))
    got = sorted(
        (r["doc_id"], r["w"], r["cum"], r["slot"])
        for r in _Q["samp_pps_systematic"].fn(spark, sf_dir).collect()
    )
    assert got == expect
    # sample size is within edge effects of the target
    assert _PPS_K - 2 <= len(got) <= _PPS_K + 1
    slots = [s for _, _, _, s in got]
    assert len(set(slots)) == len(slots)  # one pick per crossed slot


def test_sql_parameterized_binding_matches_inline(spark, sf_dir):
    """Named-parameter binding must equal the inline-literal query."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    got = {
        r["l_returnflag"]: (r["n_items"], r["total_c"])
        for r in _Q["sql_parameterized"].fn(spark, sf_dir).collect()
    }
    expect = {
        r["l_returnflag"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "lineitem")
        .where("l_quantity >= 25 AND l_discount <= 0.05")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("t"),
        )
        .collect()
    }
    assert got == expect


def test_sql_session_variable_two_step(spark, sf_dir):
    """The variable must hold the floor-mean and the report must
    count strictly-above rows per priority."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    o = [
        int(round(r["o_totalprice"] * 100))
        for r in load_table(spark, sf_dir, "orders")
        .select("o_totalprice")
        .collect()
    ]
    floor_c = sum(o) // len(o)
    rows = _Q["sql_session_variable"].fn(spark, sf_dir).collect()
    assert sum(r["n_above"] for r in rows) == sum(1 for v in o if v > floor_c)
    for r in rows:
        assert r["min_above_c"] > floor_c


def test_meta_observe_metrics_zero_semantics_tap(spark, sf_dir):
    """observe() metrics must equal direct aggregates — the tap adds
    no semantics and drops no rows."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    r = _Q["meta_observe_metrics"].fn(spark, sf_dir).collect()[0]
    o = load_table(spark, sf_dir, "orders")
    direct = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("t"),
        F.max(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("m"),
        F.countDistinct("o_orderstatus").alias("s"),
    ).collect()[0]
    assert (r["n_rows"], r["total_c"], r["max_c"], r["n_status"]) == (
        direct["n"],
        direct["t"],
        direct["m"],
        direct["s"],
    )


def test_txt_bpe_train_step_replay(spark, sf_dir):
    """Python replay of the merge round: pair counts over the word
    frequency table and the greedy non-overlapping merge count."""
    import re

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    words: dict = {}
    for r in docs:
        for t in re.findall(r"\S+", r["text"]):
            w = t.lower()
            if len(w) >= 2:
                words[w] = words.get(w, 0) + 1
    pairs: dict = {}
    for w, c in words.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] = pairs.get(w[i : i + 2], 0) + c
    ranked = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    top_pair = ranked[0][0]
    symbols_before = sum(c * len(w) for w, c in words.items())
    n_merged = sum(
        c * ((len(w) - len(w.replace(top_pair, ""))) // 2)
        for w, c in words.items()
    )
    got = sorted(
        _Q["txt_bpe_train_step"].fn(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert len(got) == 10
    for r, (pair, cnt) in zip(got, ranked[:10]):
        assert r["pair"] == pair and r["pair_count"] == cnt
        assert r["is_merge"] == (1 if r["rank"] == 1 else 0)
        assert r["symbols_before"] == symbols_before
        assert r["symbols_after"] == symbols_before - n_merged
    assert got[0]["symbols_after"] < got[0]["symbols_before"]


def test_sec_rtbf_purge_audit_cascade(spark, sf_dir):
    """The forget set must purge consistently across raw and derived
    surfaces: same user share, zero residue everywhere, and the
    user_state purge count equals the number of forgotten users."""
    from pe_firm_investment_database_pipeline_spark.plans.quality import (
        _RTBF_HASH,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", (F.expr(_RTBF_HASH) == 0).cast("long").alias("fg"))
        .collect()
    )
    forget_users = {r["user_id"] for r in ev if r["fg"] == 1}
    rows = {r["surface"]: r for r in _Q["sec_rtbf_purge_audit"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"events", "user_daily", "user_state"}
    assert rows["events"]["rows_purged"] == sum(r["fg"] for r in ev)
    assert rows["user_state"]["rows_purged"] == len(forget_users)
    for r in rows.values():
        assert r["residue"] == 0
        assert r["rows_after"] == r["rows_before"] - r["rows_purged"]
        assert r["rows_purged"] > 0  # the forget set is non-empty


def test_str_collation_group_case_insensitive(spark, sf_dir):
    """Grouping under UTF8_LCASE must merge the mixed-case variants
    the plan injects — counts equal the case-blind truth."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    truth = {
        r["s"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "customer")
        .groupBy(F.lower("c_mktsegment").alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")).alias("t"),
        )
        .collect()
    }
    got = {
        r["segment"]: (r["n"], r["bal_sum_c"])
        for r in _Q["str_collation_group"].fn(spark, sf_dir).collect()
    }
    assert got == truth
    assert len(got) == 5  # five segments, never ten case-split groups


def test_sql_try_arithmetic_null_semantics(spark, sf_dir):
    """try_divide hits NULL exactly on the zero-denominator group
    (1-URGENT) and try_multiply overflows to NULL for every group
    with at least 2 rows."""
    rows = {r["o_orderpriority"]: r for r in _Q["sql_try_arithmetic"].fn(spark, sf_dir).collect()}
    assert rows["1-URGENT"]["mean_non_urgent_c"] is None
    for p, r in rows.items():
        if p != "1-URGENT":
            assert r["mean_non_urgent_c"] is not None
            assert r["mean_non_urgent_c"] > 0
        assert r["overflow_probe"] is None  # every group has >= 2 rows


def test_sql_identifier_matches_direct(spark, sf_dir):
    """IDENTIFIER-bound names resolve to the same plan as direct
    references."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    got = {
        r["grp"]: r["n"]
        for r in _Q["sql_identifier_clause"].fn(spark, sf_dir).collect()
    }
    expect = {
        r["o_orderstatus"]: r["count"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    assert got == expect


def test_txt_token_count_arrow_equals_jvm_path(spark, sf_dir):
    """The Arrow kernel path must agree with the JVM regexp path row
    for row — moving engines changes throughput, not answers."""
    from pe_firm_investment_database_pipeline_spark.plans.textops import (
        _TOKENS,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    jvm = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(f"size({_TOKENS})").alias("n"))
        .collect()
    }
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in _Q["txt_token_count_arrow"].fn(spark, sf_dir).collect()
    }
    assert got == jvm


def test_src_python_stream_source_exhausts_feed(spark, sf_dir):
    """The streaming source must deliver the whole deterministic feed
    exactly once across micro-batches: bucket counts partition N and
    the squared sums match the closed form."""
    from pe_firm_investment_database_pipeline_spark.plans.io_ops import (
        _PYSS_N,
    )

    rows = {r["bucket"]: r for r in _Q["src_python_stream_source"].fn(spark, sf_dir).collect()}
    assert len(rows) == 8
    assert sum(r["n"] for r in rows.values()) == _PYSS_N
    for b, r in rows.items():
        ks = range(b, _PYSS_N, 8)
        assert r["n"] == len(list(ks))
        assert r["sum_sq"] == sum(k * k for k in ks)


def test_sim_matryoshka_recall_replay(spark, sf_dir):
    """numpy replay of both rankings (full vs 16-dim prefix) and the
    recall@10 overlap, including quantization and tie order."""
    import math

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    emb = {
        r["vec_id"]: [math.floor(x * 1_000_000.0) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def top10(qid, dims):
        qv = emb[qid][:dims]
        qn = sum(x * x for x in qv)
        scored = []
        for vid, v in emb.items():
            if vid == qid:
                continue
            tv = v[:dims]
            dot = sum(a * b for a, b in zip(tv, qv))
            cos = dot / (math.sqrt(sum(x * x for x in tv)) * math.sqrt(qn))
            scored.append((-cos, vid))
        scored.sort()
        return {vid for _, vid in scored[:10]}

    got = {r["qid"]: r for r in _Q["sim_matryoshka_recall"].fn(spark, sf_dir).collect()}
    assert set(got) == set(range(5))
    for qid in range(5):
        overlap = len(top10(qid, 64) & top10(qid, 16))
        assert got[qid]["n_overlap"] == overlap
        assert got[qid]["recall_ppm"] == overlap * 1_000_000 // 10
        assert 0 <= got[qid]["n_overlap"] <= 10


def test_snk_retention_vacuum_physically_deletes(spark, sf_dir):
    """After the vacuum, expired days are gone from the physical
    table — counts reconcile against the logical retention filter."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    days = [
        r["day"]
        for r in load_table(spark, sf_dir, "events")
        .select(F.expr("ts_us div 86400000000").alias("day"))
        .distinct()
        .collect()
    ]
    cutoff = max(days) - 14 + 1
    kept_days = [d for d in days if d >= cutoff]
    rows_kept = (
        load_table(spark, sf_dir, "events")
        .where(F.expr(f"ts_us div 86400000000 >= {cutoff}"))
        .count()
    )
    r = _Q["snk_retention_vacuum"].fn(spark, sf_dir).collect()[0]
    assert r["days_before"] == len(days)
    assert r["days_after"] == len(kept_days)
    assert r["days_vacuumed"] == len(days) - len(kept_days)
    assert r["days_vacuumed"] > 0  # the fixture spans > 14 days
    assert r["rows_after"] == rows_kept
    assert r["oldest_kept_day"] >= cutoff


def test_graph_hits_authority_replay(spark, sf_dir):
    """Python replay of the one-round HITS half-steps with truncating
    max-norm renormalization on the oriented edge list."""
    from pe_firm_investment_database_pipeline_spark.plans.textops import (
        dedup_minhash_lsh,
    )

    edges = {
        tuple(sorted((r["doc1"], r["doc2"])))
        for r in dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= 0.5)
        .collect()
    }
    BASE = 1_000_000
    a1: dict = {}
    for u, v in edges:
        a1[v] = a1.get(v, 0) + BASE
    amax = max(a1.values())
    a1s = {v: (a * BASE) // amax for v, a in a1.items()}
    h1: dict = {}
    for u, v in edges:
        if v in a1s:
            h1[u] = h1.get(u, 0) + a1s[v]
    hmax = max(h1.values())
    h1s = {u: (h * BASE) // hmax for u, h in h1.items()}
    got = {r["doc_id"]: r for r in _Q["graph_hits_authority"].fn(spark, sf_dir).collect()}
    assert set(got) == set(a1s) | set(h1s)
    for d, r in got.items():
        assert r["auth_scaled"] == a1s.get(d, 0)
        assert r["hub_scaled"] == h1s.get(d, 0)
    # renorm anchors: some node hits exactly BASE on each axis
    assert max(r["auth_scaled"] for r in got.values()) == BASE
    assert max(r["hub_scaled"] for r in got.values()) == BASE


def test_agg_skyline_2d_is_true_pareto_front(spark, sf_dir):
    """The window formulation must equal the dominance DEFINITION:
    a (day, price) point is on the skyline iff no other order in the
    group has day <= d AND price <= p with at least one strict."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    pts: dict = {}
    for r in (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.expr("unix_date(CAST(o_orderdate AS DATE))").alias("day"),
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT)"
            ).alias("p"),
        )
        .collect()
    ):
        pts.setdefault(r["o_orderpriority"], []).append((r["day"], r["p"]))
    expect: dict = {}
    for g, ps in pts.items():
        sky = set()
        for d, p in set(ps):
            dominated = any(
                (d2 <= d and p2 <= p and (d2 < d or p2 < p))
                for d2, p2 in ps
            )
            if not dominated:
                sky.add((d, p))
        expect[g] = sorted(sky)
    got: dict = {}
    for r in _Q["agg_skyline_2d"].fn(spark, sf_dir).collect():
        got.setdefault(r["o_orderpriority"], []).append(
            (r["day"], r["price_c"], r["sky_rank"])
        )
    assert set(got) == set(expect)
    for g, rows in got.items():
        rows.sort()
        assert [(d, p) for d, p, _ in rows] == expect[g]
        # ranks are 1..k in day order along the frontier
        assert [k for _, _, k in rows] == list(range(1, len(rows) + 1))


def test_txt_unicode_nfc_audit_counts_injected_docs(spark, sf_dir):
    """Exactly the every-7th injected docs change under NFC (the base
    corpus is ASCII), each losing the 2 combining marks; checksum is
    over the NORMALIZED corpus so both engines agree byte-for-byte."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    n_inj = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 7 == 0)
        .count()
    )
    r = _Q["txt_unicode_nfc_audit"].fn(spark, sf_dir).collect()[0]
    assert r["n_changed"] == n_inj
    # NFC composes e+ACUTE and a+RING: 2 codepoints shorter per doc
    assert r["delta_chars"] == 2 * n_inj
    assert r["n_docs"] == load_table(spark, sf_dir, "documents").count()


def test_fin_fifo_allocation_equals_greedy_fold(spark, sf_dir):
    """The window closed form must equal the imperative greedy loop:
    walk each customer's orders in (day, orderkey) order, decrement
    the remaining budget, clamp at zero."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    budget = {
        r["c_custkey"]: max(0, int(round(r["c_acctbal"] * 100)))
        for r in load_table(spark, sf_dir, "customer").collect()
    }
    orders: dict = {}
    for r in (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.expr("unix_date(CAST(o_orderdate AS DATE))").alias("day"),
            F.expr(
                "CAST(round(o_totalprice * 100) AS BIGINT)"
            ).alias("p"),
        )
        .collect()
    ):
        orders.setdefault(r["o_custkey"], []).append(
            (r["day"], r["o_orderkey"], r["p"])
        )
    expect: dict = {}
    for cust, os_ in orders.items():
        left = budget.get(cust)
        if left is None:
            continue
        for day, okey, p in sorted(os_):
            a = max(0, min(p, left))
            left -= a
            expect[okey] = a
    got = {
        r["o_orderkey"]: r
        for r in _Q["fin_fifo_allocation"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    statuses = set()
    for okey, r in got.items():
        assert r["alloc_c"] == expect[okey]
        want = (
            "full"
            if r["alloc_c"] == r["price_c"]
            else ("partial" if r["alloc_c"] > 0 else "none")
        )
        assert r["fill_status"] == want
        statuses.add(want)
    # the fixture must exercise all three statuses or the clamp is
    # untested
    assert statuses == {"full", "partial", "none"}


def test_evt_did_analysis_replay(spark, sf_dir):
    """Python replay of the 2x2 cell sums and the cross-multiplied
    DiD rational; truncating-division semantics pinned on both the
    cell means and the estimate."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts_us",
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            )
            .otherwise(0)
            .alias("rev_c"),
        )
        .collect()
    )
    mid = (min(r["ts_us"] for r in rows) + max(r["ts_us"] for r in rows)) // 2
    per: dict = {}
    for r in rows:
        pre, post = per.setdefault(r["user_id"], [0, 0])
        if r["ts_us"] < mid:
            per[r["user_id"]][0] += r["rev_c"]
        else:
            per[r["user_id"]][1] += r["rev_c"]
    t = [v for u, v in per.items() if u % 2 == 0]
    c = [v for u, v in per.items() if u % 2 == 1]
    n_t, n_c = len(t), len(c)
    s_pre_t, s_post_t = sum(v[0] for v in t), sum(v[1] for v in t)
    s_pre_c, s_post_c = sum(v[0] for v in c), sum(v[1] for v in c)

    def tdiv(num, den):
        return num * 1000 // den if num >= 0 else -((-num) * 1000 // den)

    r = _Q["evt_did_analysis"].fn(spark, sf_dir).collect()[0]
    assert (r["n_t"], r["n_c"]) == (n_t, n_c)
    assert r["mean_pre_t_mc"] == tdiv(s_pre_t, n_t)
    assert r["mean_post_t_mc"] == tdiv(s_post_t, n_t)
    assert r["mean_pre_c_mc"] == tdiv(s_pre_c, n_c)
    assert r["mean_post_c_mc"] == tdiv(s_post_c, n_c)
    dnum = (s_post_t - s_pre_t) * n_c - (s_post_c - s_pre_c) * n_t
    assert r["did_mc"] == tdiv(dnum, n_t * n_c)


def test_evt_pattern_vshape_matches_definition(spark, sf_dir):
    """Python regex-style replay over the signed daily-delta string:
    every reported V is a maximal >=2 down-run immediately followed
    by a >=2 up-run, with the right trough/peak/rebound measures."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr("ts_us div 86400000000").alias("day"),
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            )
            .otherwise(0)
            .alias("rev_c"),
        )
        .collect()
    ):
        daily[r["day"]] = daily.get(r["day"], 0) + r["rev_c"]
    days = sorted(daily)
    sgns = []
    for i in range(1, len(days)):
        a, b = daily[days[i - 1]], daily[days[i]]
        sgns.append((days[i], 1 if b > a else (-1 if b < a else 0)))
    # maximal same-sign runs
    runs = []
    for day, s in sgns:
        if runs and runs[-1][0] == s:
            runs[-1][1].append(day)
        else:
            runs.append((s, [day]))
    expect = []
    for i in range(len(runs) - 1):
        s, ds = runs[i]
        s2, ds2 = runs[i + 1]
        if s == -1 and len(ds) >= 2 and s2 == 1 and len(ds2) >= 2:
            trough = ds[-1]
            peak_day_idx = days.index(ds[0]) - 1
            expect.append(
                (
                    trough,
                    len(ds),
                    len(ds2),
                    daily[days[peak_day_idx]],
                    daily[trough],
                    daily[days[peak_day_idx]] - daily[trough],
                    daily[ds2[-1]] - daily[trough],
                )
            )
    got = sorted(
        (
            r["trough_day"],
            r["down_len"],
            r["up_len"],
            r["peak_rev_c"],
            r["trough_rev_c"],
            r["drop_c"],
            r["rebound_c"],
        )
        for r in _Q["evt_pattern_vshape"].fn(spark, sf_dir).collect()
    )
    assert got == sorted(expect)
    assert len(got) > 0  # the fixture must actually contain a V


def test_ml_map_at_k_replay(spark, sf_dir):
    """AP@10 replayed in exact fractions: the lcm-2520 scaled sum and
    the one-truncating-division ppm must match Python's Fraction."""
    from fractions import Fraction

    from pe_firm_investment_database_pipeline_spark.plans.advanced_aggs import (
        _AUC_HASH,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "lang",
            "doc_id",
            "n_chars",
            (F.expr(_AUC_HASH) % 2 == 0).cast("long").alias("rel"),
        )
        .collect()
    )
    by_lang: dict = {}
    for r in d:
        by_lang.setdefault(r["lang"], []).append(
            (-r["n_chars"], r["doc_id"], r["rel"])
        )
    got = {r["lang"]: r for r in _Q["ml_map_at_k"].fn(spark, sf_dir).collect()}
    assert set(got) == set(by_lang)
    for lang, rows in by_lang.items():
        rows.sort()
        n_rel = sum(rel for _, _, rel in rows)
        cum, ap, scaled = 0, Fraction(0), 0
        for i, (_, _, rel) in enumerate(rows[:10], start=1):
            cum += rel
            if rel:
                ap += Fraction(cum, i)
                scaled += cum * (2520 // i)
        r = got[lang]
        assert r["n_rel"] == n_rel
        assert r["ap_scaled"] == scaled == int(ap * 2520)
        want_ppm = (
            scaled * 1_000_000 // (2520 * min(n_rel, 10)) if n_rel else None
        )
        assert r["ap_ppm"] == want_ppm


def test_evt_frequency_capping_equals_greedy(spark, sf_dir):
    """The clamped-cumsum closed form must equal the per-event greedy
    admission loop (admit iff hour admits < 3 AND day admits < 5,
    walking each user's events in (ts_us, event_id) order) — down to
    the exact admitted id set via the checksum."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    evs: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts_us")
        .collect()
    ):
        evs.setdefault(r["user_id"], []).append((r["ts_us"], r["event_id"]))
    expect: dict = {}
    for user, es in evs.items():
        hour_n: dict = {}
        day_n: dict = {}
        for ts, eid in sorted(es):
            hour = ts // 3_600_000_000
            day = ts // 86_400_000_000
            k = (user, day)
            n_ev, n_adm, id_sum = expect.get(k, (0, 0, 0))
            admit = hour_n.get(hour, 0) < 3 and day_n.get(day, 0) < 5
            if admit:
                hour_n[hour] = hour_n.get(hour, 0) + 1
                day_n[day] = day_n.get(day, 0) + 1
            expect[k] = (
                n_ev + 1,
                n_adm + (1 if admit else 0),
                id_sum + (eid if admit else 0),
            )
    got = {
        (r["user_id"], r["day"]): (
            r["n_events"],
            r["n_admitted"],
            r["admitted_id_sum"],
        )
        for r in _Q["evt_frequency_capping"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture must exercise BOTH caps or the clamps are untested
    assert any(n_adm < n_ev for (n_ev, n_adm, _) in got.values())
    rows = _Q["evt_frequency_capping"].fn(spark, sf_dir)
    assert rows.where(F.col("n_admitted") == 5).count() > 0  # day cap hit


def test_snk_txn_log_snapshot_isolation(spark, sf_dir):
    """v1 must stay byte-stable after v2 commits: re-reading the v1
    manifest returns the pre-delete, pre-append contents; v2 shows
    the append and the copy-on-write delete; the physical tree holds
    BOTH file generations."""
    import os

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        app_dir,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    o = load_table(spark, sf_dir, "orders")
    n_all = o.count()
    n_b = o.where(F.col("o_orderkey") % 10 == 0).count()
    n_v1 = n_all - n_b
    n_v1_f = o.where(
        (F.col("o_orderkey") % 10 != 0) & (F.col("o_orderstatus") == "F")
    ).count()
    rows = {
        r["version"]: r
        for r in _Q["snk_txn_log_snapshot"].fn(spark, sf_dir).collect()
    }
    assert rows[1]["n_rows"] == n_v1
    assert rows[1]["n_f_rows"] == n_v1_f  # pre-delete F rows intact
    assert rows[2]["n_rows"] == n_v1 - n_v1_f + n_b
    assert rows[2]["n_f_rows"] == o.where(
        (F.col("o_orderkey") % 10 == 0) & (F.col("o_orderstatus") == "F")
    ).count()
    # THIS application's tree (other live applications own their own
    # roots, which the sweep never removes)
    names = set(os.listdir(app_dir(spark, sf_dir, "txnlog")))
    # both generations of A coexist — that's what isolation costs
    assert {"data_a", "data_a2", "data_b"} <= names
    assert {"manifest_v1.json", "manifest_v2.json"} <= names


def test_ts_ewma_irregular_gap_decay(spark, sf_dir):
    """Python replay of the elapsed-time fold: state halves per gap
    day (right-shift by the capped gap), and a user's ewma must
    depend on gap STRUCTURE, not just the value multiset."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
        )
        .collect()
    ):
        k = (r["user_id"], r["day"])
        daily[k] = daily.get(k, 0) + r["v"]
    per_user: dict = {}
    for (u, d), v in daily.items():
        per_user.setdefault(u, []).append((d, v))
    expect = {}
    for u, dv in per_user.items():
        dv.sort()
        ew, pd_ = dv[0][1], dv[0][0]
        for d, v in dv[1:]:
            ew = v + (ew >> min(d - pd_, 62))
            pd_ = d
        expect[u] = (len(dv), pd_, ew)
    got = {
        r["user_id"]: (r["n_days"], r["last_day"], r["ewma_c"])
        for r in _Q["ts_ewma_irregular"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    # the fixture must contain multi-day gaps, or the entry tests
    # nothing win_ewma doesn't
    assert any(
        any(b[0] - a[0] >= 2 for a, b in zip(dv, dv[1:]))
        for dv in per_user.values()
    )


def test_join_bitemporal_snapshots_nested_and_moving(spark, sf_dir):
    """Later snapshots see MORE keys and possibly DIFFERENT live
    versions for old keys (a correction can move a fact across valid
    days); snapshot 3 equals the plain per-key argmax over all
    events — replayed in Python."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    evs = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.expr("ts_us div 86400000000").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"),
        )
        .collect()
    )
    max_id = max(r["event_id"] for r in evs)
    rows = _Q["join_bitemporal"].fn(spark, sf_dir).collect()
    by_snap: dict = {}
    for r in rows:
        by_snap.setdefault(r["snap"], {})[r["valid_day"]] = (
            r["n_live"],
            r["sum_v_c"],
        )
    assert set(by_snap) == {1, 2, 3}
    for snap in (1, 2, 3):
        t = max_id * snap // 3
        live: dict = {}
        for r in evs:
            if r["event_id"] <= t:
                k = r["event_id"] // 3
                if k not in live or r["event_id"] > live[k][0]:
                    live[k] = (r["event_id"], r["day"], r["v"])
        expect: dict = {}
        for _, day, v in live.values():
            n, s = expect.get(day, (0, 0))
            expect[day] = (n + 1, s + v)
        assert by_snap[snap] == expect
    n1 = sum(n for n, _ in by_snap[1].values())
    n3 = sum(n for n, _ in by_snap[3].values())
    assert n1 < n3  # transaction time moves forward


def test_er_pipeline_e2e_full_replay(spark, sf_dir):
    """Complete Python replay of the ER pipeline — synthesize the
    three sources, post to both length bands, pair within blocks,
    DP-levenshtein, 3 min-label rounds, survivorship — and compare
    the whole cluster report."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    def lev(a, b):
        if abs(len(a) - len(b)) > 2:
            return 3
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    def code(k):
        return "".join(
            chr(97 + (k // 26**i) % 26) for i in range(5, -1, -1)
        )

    parts = [
        (r["p_partkey"], code(r["p_partkey"]) + " " + r["p_name"].lower())
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    recs = {}
    for k, n in parts:
        recs[k * 10] = (0, n)
        if k % 3 == 0:
            recs[k * 10 + 1] = (1, n[:2] + "x" + n[3:])
        if k % 7 == 0:
            recs[k * 10 + 2] = (2, n[:-1])
    blocks: dict = {}
    for rid, (_, n) in recs.items():
        for band in {len(n) // 8, (len(n) + 1) // 8}:
            blocks.setdefault((n[:2] + n[3:6], band), set()).add(rid)
    pairs = set()
    for members in blocks.values():
        ms = sorted(members)
        for i, u in enumerate(ms):
            for v in ms[i + 1:]:
                if (u, v) not in pairs and lev(recs[u][1], recs[v][1]) <= 2:
                    pairs.add((u, v))
    nbrs: dict = {}
    for u, v in pairs:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    lbl = {rid: rid for rid in recs}
    for _ in range(3):
        lbl = {
            rid: min(
                [lbl[rid]] + [lbl[x] for x in nbrs.get(rid, [])]
            )
            for rid in recs
        }
    clusters: dict = {}
    for rid, label in lbl.items():
        clusters.setdefault(label, []).append(rid)
    expect = {}
    for label, rids in clusters.items():
        if len(rids) < 2:
            continue
        surv = min(
            (recs[r][0], -len(recs[r][1]), r, recs[r][1]) for r in rids
        )
        expect[label] = (
            len(rids),
            len({recs[r][0] for r in rids}),
            surv[2],
            surv[3],
        )
    got = {
        r["cluster_id"]: (
            r["n_recs"],
            r["n_src"],
            r["survivor_rec"],
            r["survivor_name"],
        )
        for r in _Q["er_pipeline_e2e"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    # the pipeline must actually resolve multi-source entities
    assert any(n_src == 3 for _, n_src, _, _ in got.values())


def test_pack_sequences_nfd_replay_and_budget(spark, sf_dir):
    """Python replay of next-fit-decreasing; no multi-doc bin may
    exceed the 256-token budget (the HARD constraint that separates
    this from shard_by_token_budget's overshoot relaxation)."""
    import re

    from pe_firm_investment_database_pipeline_spark.plans.datapipe import (
        _PACK_BUDGET,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    docs: dict = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        docs.setdefault((r["lang"], r["doc_id"] // 1024), []).append(
            (-len(re.findall(r"\S+", r["text"])), r["doc_id"])
        )
    expect = {}
    for (lang, shard), ds in docs.items():
        ds.sort()
        bins, n, f = [], 0, 0
        for nt, _ in ds:
            tok = -nt
            if n and f + tok <= _PACK_BUDGET:
                n, f = n + 1, f + tok
            else:
                if n:
                    bins.append((n, f))
                n, f = 1, tok
        bins.append((n, f))
        for i, (bn, bt) in enumerate(bins, 1):
            expect[(lang, shard, i)] = (
                bn,
                bt,
                bt * 1_000_000 // _PACK_BUDGET,
            )
    got = {
        (r["lang"], r["shard"], r["bin_id"]): (
            r["n_docs"],
            r["tok_sum"],
            r["fill_ppm"],
        )
        for r in _Q["pack_sequences_nfd"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    for _, (bn, bt, _) in got.items():
        if bn > 1:
            assert bt <= _PACK_BUDGET  # hard budget for packed bins
    assert any(bn > 1 for bn, _, _ in got.values())


def test_dq_late_arrival_report_replay(spark, sf_dir):
    """Running high-water-mark replay: late = behind the event-time
    max of everything that ARRIVED earlier (event_id order)."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    evs: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "ts_us")
        .collect()
    ):
        ts = r["ts_us"] - (7_200_000_000 if r["event_id"] % 17 == 0 else 0)
        evs.setdefault(r["event_type"], []).append((r["event_id"], ts))
    got = {
        r["event_type"]: r
        for r in _Q["dq_late_arrival_report"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(evs)
    for t, es in evs.items():
        es.sort()
        hwm, n_late, mx, s = None, 0, 0, 0
        for _, ts in es:
            if hwm is not None and ts < hwm:
                n_late += 1
                mx = max(mx, hwm - ts)
                s += hwm - ts
            hwm = ts if hwm is None else max(hwm, ts)
        r = got[t]
        assert r["n"] == len(es)
        assert r["n_late"] == n_late
        assert r["late_ppm"] == n_late * 1_000_000 // len(es)
        assert r["max_late_us"] == mx
        assert r["mean_late_us"] == s // len(es)
        assert n_late > 0  # the fixture IS out of order per type


def test_src_codec_matrix_identical_logical_contents(spark, sf_dir):
    """All three codec rows must agree with each other and with the
    source table; the physical trees must really differ in size
    (i.e. three distinct codecs actually landed)."""
    import glob
    import os

    from pe_firm_investment_database_pipeline_spark.functions.session_cache import (
        app_dir,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = _Q["src_codec_matrix"].fn(spark, sf_dir).collect()
    assert sorted(r["codec"] for r in rows) == ["gzip", "snappy", "zstd"]
    vals = {
        (r["n_rows"], r["n_langs"], r["sum_chars"], r["checksum"])
        for r in rows
    }
    assert len(vals) == 1
    n = load_table(spark, sf_dir, "documents").count()
    assert rows[0]["n_rows"] == n
    root = app_dir(spark, sf_dir, "codec")  # this application's tree
    assert os.path.isdir(root)
    sizes = {}
    for codec in ("snappy", "gzip", "zstd"):
        sizes[codec] = sum(
            os.path.getsize(p)
            for p in glob.glob(os.path.join(root, codec, "*.parquet"))
        )
    assert len(set(sizes.values())) >= 2  # codecs actually differ
    assert min(sizes.values()) > 0


def test_sql_null_semantics_matrix_3vl(spark, sf_dir):
    """The nine probes must realize textbook three-valued logic:
    NOT IN against a NULL-bearing list is empty, NOT EXISTS (unlike
    NOT IN) keeps the NULL rows, null-safe self-equality covers
    everything, and the count identities reconcile."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    o = load_table(spark, sf_dir, "orders")
    n_all = o.count()
    n_null = o.where(F.col("o_orderkey") % 13 == 0).count()
    got = {
        r["probe"]: r["cnt"]
        for r in _Q["sql_null_semantics_matrix"].fn(spark, sf_dir).collect()
    }
    assert got["count_star"] == n_all
    assert got["count_col"] == n_all - n_null
    assert got["nullsafe_self"] == n_all
    assert got["eq_self"] == n_all - n_null
    assert got["not_in_aug"] == 0  # the classic NOT-IN-with-NULL trap
    assert got["in_aug"] == n_all - n_null  # fixture is FK-clean
    assert got["exists"] == got["in_aug"]
    assert got["not_exists"] == n_null + got["not_in_clean"]
    assert n_null > 0


def test_graph_ppr_single_source_replay(spark, sf_dir):
    """Python replay of 3 seeded integer iterations on the same LSH
    edge set; mass must be concentrated on the max-degree seed."""
    from pe_firm_investment_database_pipeline_spark.plans.components import (
        _PR_BASE,
        _PR_ITERS,
    )
    from pe_firm_investment_database_pipeline_spark.plans.textops import (
        dedup_minhash_lsh,
    )

    edges = set()
    for r in (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= 0.5)
        .collect()
    ):
        edges.add((r["doc1"], r["doc2"]))
        edges.add((r["doc2"], r["doc1"]))
    deg: dict = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    seed = max(deg, key=lambda a: (deg[a], -a))
    r_ = {v: (_PR_BASE if v == seed else 0) for v in deg}
    tp = (15 * _PR_BASE) // 100
    for _ in range(_PR_ITERS):
        s: dict = {}
        for a, b in edges:
            s[b] = s.get(b, 0) + r_[a] // deg[a]
        r_ = {
            b: (85 * sv) // 100 + (tp if b == seed else 0)
            for b, sv in s.items()
        }
    expect = {v: rv for v, rv in r_.items() if rv > 0}
    got = {
        r["doc_id"]: r["ppr_scaled"]
        for r in _Q["graph_ppr_single_source"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert max(got, key=got.get) == seed  # mass stays near the seed


def test_samp_reservoir_weighted_properties(spark, sf_dir):
    """Priority replay + the weighted-sampling property: the chosen
    reservoir must be exactly the k smallest (u*1000) div w
    priorities per lang, and its mean weight must exceed the
    population's (heavier docs win more often)."""
    import hashlib

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    docs: dict = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        u = int(
            hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:12], 16
        )
        w = max(r["n_chars"], 1)
        docs.setdefault(r["lang"], []).append(
            (u * 1000 // w, r["doc_id"], w)
        )
    got: dict = {}
    for r in _Q["samp_reservoir_weighted"].fn(spark, sf_dir).collect():
        got.setdefault(r["lang"], []).append(
            (r["rk"], r["doc_id"], r["priority"], r["w"])
        )
    for lang, ds in docs.items():
        ds.sort()
        expect = [
            (i + 1, d, p, w) for i, (p, d, w) in enumerate(ds[:10])
        ]
        assert sorted(got[lang]) == expect
        mean_w_pop = sum(w for _, _, w in ds) / len(ds)
        mean_w_res = sum(w for _, _, _, w in got[lang]) / len(got[lang])
        assert mean_w_res > mean_w_pop


def test_evt_alert_debounce_min_separation(spark, sf_dir):
    """Greedy cooldown replay: fires are exactly the candidates the
    3-day minimum-separation chain admits, consecutive fires are
    >= 3 days apart, and suppression actually happens."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("ts_us div 86400000000").alias("day"))
        .collect()
    ):
        k = (r["event_type"], r["day"])
        daily[k] = daily.get(k, 0) + 1
    per_type: dict = {}
    for (t, d), n in daily.items():
        per_type.setdefault(t, []).append((d, n))
    expect = {}
    for t, dn in per_type.items():
        total = sum(n for _, n in dn)
        days = len(dn)
        cands = sorted(d for d, n in dn if n * days < total)
        fires, last = [cands[0]], cands[0]
        for d in cands[1:]:
            if d >= last + 3:
                fires.append(d)
                last = d
        for i, d in enumerate(fires, 1):
            expect[(t, i)] = (len(cands), len(fires), d)
    got = {
        (r["event_type"], r["fire_idx"]): (
            r["n_candidates"],
            r["n_fired"],
            r["fire_day"],
        )
        for r in _Q["evt_alert_debounce"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    by_type: dict = {}
    for (t, i), (_, _, d) in sorted(got.items()):
        by_type.setdefault(t, []).append(d)
    for t, ds in by_type.items():
        assert all(b - a >= 3 for a, b in zip(ds, ds[1:]))
        n_cand = got[(t, 1)][0]
        assert got[(t, 1)][1] < n_cand  # the cooldown suppressed some


def test_ts_dtw_distance_replay(spark, sf_dir):
    """Full banded-DP replay in Python; the self-comparison row is
    the dtw=0 anchor and warping can only help: dtw <= L1."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("ts_us div 86400000000").alias("day"))
        .collect()
    ):
        k = (r["event_type"], r["day"])
        daily[k] = daily.get(k, 0) + 1
    ref = {d: n for (t, d), n in daily.items() if t == "purchase"}
    series: dict = {}
    for (t, d), n in daily.items():
        if d in ref:
            series.setdefault(t, []).append((d, n, ref[d]))
    INF = 1 << 60
    expect = {}
    for t, xy in series.items():
        xy.sort()
        if len(xy) < 2:
            continue
        dm1 = INF
        d0 = abs(xy[0][1] - xy[0][2])
        dp1 = abs(xy[0][1] - xy[1][2]) + d0
        for i in range(1, len(xy)):
            x = xy[i][1]
            ym1 = xy[i - 1][2]
            y = xy[i][2]
            yp1 = xy[min(i + 1, len(xy) - 1)][2]
            ndm1 = abs(x - ym1) + min(dm1, d0)
            nd0 = abs(x - y) + min(d0, dp1, ndm1)
            ndp1 = abs(x - yp1) + min(dp1, nd0)
            dm1, d0, dp1 = ndm1, nd0, ndp1
        l1 = sum(abs(x - y) for _, x, y in xy)
        expect[t] = (len(xy), d0, l1)
    got = {
        r["event_type"]: (r["n_days"], r["dtw_band1"], r["l1_unwarped"])
        for r in _Q["ts_dtw_distance"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert got["purchase"][1] == 0 and got["purchase"][2] == 0
    for t, (_, dtw, l1) in got.items():
        assert dtw <= l1  # warping can only reduce cost
    # the band must actually BUY something somewhere or the entry is
    # indistinguishable from L1
    assert any(dtw < l1 for _, dtw, l1 in got.values())


def test_ml_conformal_interval_replay_and_coverage(spark, sf_dir):
    """Order-statistic replay: q_hat is exactly the ceil(0.9(n+1))-th
    smallest calibration residual, and realized test coverage stays
    near the 90% guarantee (loose 85% floor — the guarantee is
    marginal, not per-split)."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = [
        (r["o_orderpriority"], r["o_orderkey"],
         int(round(r["o_totalprice"] * 100)))
        for r in load_table(spark, sf_dir, "orders").collect()
    ]
    got = {
        r["o_orderpriority"]: r
        for r in _Q["ml_conformal_interval"].fn(spark, sf_dir).collect()
    }
    by_p: dict = {}
    for p, k, c in rows:
        by_p.setdefault(p, []).append((k, c))
    for p, kc in by_p.items():
        cal = [(c, k) for k, c in kc if k % 2 == 0]
        tst = [c for k, c in kc if k % 2 == 1]
        mu = sum(c for c, _ in cal) // len(cal)
        resid = sorted((abs(c - mu), k) for c, k in cal)
        rk = (9 * (len(cal) + 1) + 9) // 10
        qhat = resid[rk - 1][0]
        n_cov = sum(1 for c in tst if abs(c - mu) <= qhat)
        r = got[p]
        assert r["n_cal"] == len(cal) and r["n_test"] == len(tst)
        assert r["mu_c"] == mu and r["qhat_c"] == qhat
        assert r["coverage_ppm"] == n_cov * 1_000_000 // len(tst)
        assert r["coverage_ppm"] > 850_000  # the conformal guarantee


def test_dq_duplicate_payments_finds_planted(spark, sf_dir):
    """Every planted clone pair must be flagged with day_gap=1 and
    is_planted=1; natural pairs obey the predicate; nothing outside
    the predicate appears."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    o = {
        r["o_orderkey"]: (
            r["o_custkey"],
            int(round(r["o_totalprice"] * 100)),
        )
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    planted = {k for k in o if k % 41 == 0}
    rows = _Q["dq_duplicate_payments"].fn(spark, sf_dir).collect()
    flagged_planted = {
        r["k1"] for r in rows if r["is_planted"] == 1
    }
    assert flagged_planted == planted  # full recall on the plants
    for r in rows:
        assert r["day_gap"] <= 2 and r["k1"] < r["k2"]
        if r["is_planted"]:
            assert r["k2"] == r["k1"] + 1_000_000_000
            assert r["day_gap"] == 1
        ck, pc = o[r["k1"] if r["k1"] in o else r["k1"]]
        assert r["o_custkey"] == ck and r["price_c"] == pc


def test_ts_croston_intermittent_replay(spark, sf_dir):
    """Dual-EWMA replay: size and gap states fold independently with
    truncating halving; rate = z*1000 div p; gaps must vary (the
    intermittency that motivates Croston)."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.expr("ts_us div 86400000000").alias("day"))
        .collect()
    ):
        k = (r["user_id"], r["day"])
        daily[k] = daily.get(k, 0) + 1
    per: dict = {}
    for (u, d), s in daily.items():
        per.setdefault(u, []).append((d, s))
    expect = {}
    any_gap_varies = False
    for u, ds in per.items():
        if len(ds) < 2:
            continue
        ds.sort()
        z, p, pd_ = ds[0][1], -1, ds[0][0]
        gaps = []
        for d, s in ds[1:]:
            z = (z + s) // 2
            g = d - pd_
            gaps.append(g)
            p = g if p < 0 else (p + g) // 2
            pd_ = d
        expect[u] = (len(ds), z, p, z * 1000 // p)
        if len(set(gaps)) > 1:
            any_gap_varies = True
    got = {
        r["user_id"]: (
            r["n_points"],
            r["size_ewma"],
            r["gap_ewma"],
            r["rate_permille"],
        )
        for r in _Q["ts_croston_intermittent"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert any_gap_varies  # demand is actually intermittent


def test_evt_att_stratified_replay(spark, sf_dir):
    """Subclassification replay: exact per-stratum gaps and the
    treated-weighted ATT with the documented double truncation."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts_us",
            (F.col("event_type") == "purchase").cast("long").alias("p"),
        )
        .collect()
    )
    mid = (min(r["ts_us"] for r in rows) + max(r["ts_us"] for r in rows)) // 2
    per: dict = {}
    for r in rows:
        xy = per.setdefault(r["user_id"], [0, 0])
        xy[0 if r["ts_us"] < mid else 1] += r["p"]
    strata: dict = {}
    for u, (x, y) in per.items():
        s = min(x, 5)
        arm = 1 if u % 2 == 0 else 0
        st = strata.setdefault(s, [0, 0, 0, 0])  # n_t n_c sy_t sy_c
        if arm:
            st[0] += 1
            st[2] += y
        else:
            st[1] += 1
            st[3] += y

    def tdiv(num, den, scale=1000):
        return (
            num * scale // den if num >= 0 else -((-num) * scale // den)
        )

    expect = {}
    att_num, att_den = 0, 0
    for s, (n_t, n_c, sy_t, sy_c) in strata.items():
        if n_t == 0 or n_c == 0:
            continue
        delta = tdiv(sy_t * n_c - sy_c * n_t, n_t * n_c)
        expect[s] = (
            n_t,
            n_c,
            tdiv(sy_t, n_t),
            tdiv(sy_c, n_c),
            delta,
        )
        att_num += n_t * delta
        att_den += n_t
    att = tdiv(att_num, att_den, scale=1)
    got = {}
    for r in _Q["evt_att_stratified"].fn(spark, sf_dir).collect():
        got[r["stratum"]] = (
            r["n_t"],
            r["n_c"],
            r["mean_y_t_mc"],
            r["mean_y_c_mc"],
            r["delta_mc"],
        )
        assert r["att_mc"] == att
    assert got == expect
    assert len(got) >= 3  # the confounder actually stratifies


def test_ml_permutation_test_replay(spark, sf_dir):
    """Replay all 20 md5 permutations and the add-one p-value."""
    import hashlib

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    y: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.col("event_type") == "purchase").cast("long").alias("p"),
        )
        .collect()
    ):
        y[r["user_id"]] = y.get(r["user_id"], 0) + r["p"]

    def tdiv(num, den):
        return num * 1000 // den if num >= 0 else -((-num) * 1000 // den)

    def delta(arm_of):
        nt = nc = st = sc = 0
        for u, yy in y.items():
            if arm_of(u):
                nt += 1
                st += yy
            else:
                nc += 1
                sc += yy
        return tdiv(st * nc - sc * nt, nt * nc)

    obs = delta(lambda u: u % 2 == 0)
    n_ge = 0
    for b in range(20):
        def arm(u, b=b):
            h = hashlib.md5(f"{u}:{b}".encode()).hexdigest()[:12]
            return int(h, 16) % 2 == 1
        if abs(delta(arm)) >= abs(obs):
            n_ge += 1
    r = _Q["ml_permutation_test"].fn(spark, sf_dir).collect()[0]
    assert r["n_users"] == len(y)
    assert r["obs_delta_mc"] == obs
    assert r["n_ge"] == n_ge
    assert r["p_ppm"] == (n_ge + 1) * 1_000_000 // 21


def _daily_xy(spark, sf_dir):
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    rev: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("ts_us div 86400000000").alias("day"),
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            )
            .otherwise(0)
            .alias("rev_c"),
        )
        .collect()
    ):
        k = (r["event_type"], r["day"])
        daily[k] = daily.get(k, 0) + 1
        rev[r["day"]] = rev.get(r["day"], 0) + r["rev_c"]
    xy: dict = {}
    for (t, d), x in daily.items():
        xy.setdefault(t, []).append((d, x, rev[d]))
    return xy


def test_ml_kendall_tau_replay(spark, sf_dir):
    """Exact concordance replay over the day grid."""
    xy = _daily_xy(spark, sf_dir)
    got = {
        r["event_type"]: r
        for r in _Q["ml_kendall_tau"].fn(spark, sf_dir).collect()
    }
    for t, ds in xy.items():
        ds.sort()
        C = D = TX = TY = P = 0
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                P += 1
                dx = ds[i][1] - ds[j][1]
                dy = ds[i][2] - ds[j][2]
                if dx * dy > 0:
                    C += 1
                elif dx * dy < 0:
                    D += 1
                if dx == 0:
                    TX += 1
                if dy == 0:
                    TY += 1
        r = got[t]
        assert (r["n_pairs"], r["n_conc"], r["n_disc"]) == (P, C, D)
        assert (r["n_tie_x"], r["n_tie_y"]) == (TX, TY)
        num = C - D
        want = (
            num * 1_000_000 // P
            if num >= 0
            else -((-num) * 1_000_000 // P)
        )
        assert r["tau_a_ppm"] == want
    # purchase count tracks its own revenue (revenue = count x
    # noisy values, so the association is positive but moderate)
    assert got["purchase"]["tau_a_ppm"] > 250_000


def test_ml_spearman_rank_replay(spark, sf_dir):
    """Doubled-average-rank replay; rho² of the purchase row must be
    high (activity vs its own revenue) and rho² <= 1."""
    xy = _daily_xy(spark, sf_dir)
    got = {
        r["event_type"]: r
        for r in _Q["ml_spearman_rank"].fn(spark, sf_dir).collect()
    }

    def dranks(vals):
        order = sorted(vals)
        first = {}
        cnt = {}
        for i, v in enumerate(order, 1):
            first.setdefault(v, i)
            cnt[v] = cnt.get(v, 0) + 1
        return [2 * first[v] + cnt[v] - 1 for v in vals]

    def tdiv(num, den):
        return (
            num * 1_000_000 // den
            if num >= 0
            else -((-num) * 1_000_000 // den)
        )

    for t, ds in xy.items():
        rx = dranks([x for _, x, _ in ds])
        ry = dranks([y for _, _, y in ds])
        n = len(ds)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        byx, bxy = tdiv(cov, vx), tdiv(cov, vy)
        r = got[t]
        assert r["n_days"] == n
        assert r["slope_yx_ppm"] == byx
        assert r["slope_xy_ppm"] == bxy
        assert r["rho2_ppm"] == tdiv(byx * bxy, 10**12)
        assert r["rho2_ppm"] <= 1_000_000
    assert got["purchase"]["rho2_ppm"] > 200_000


def test_evt_attribution_shapley_definitional(spark, sf_dir):
    """Definitional check: phi computed as the average marginal
    contribution over ALL 3! channel orderings (x6 to stay integer)
    must equal the closed-form output; the efficiency axiom must
    hold exactly."""
    from itertools import permutations

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    per: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .collect()
    ):
        st = per.setdefault(r["user_id"], {"purchase": 0})
        st[r["event_type"]] = st.get(r["event_type"], 0) + 1
    users = []
    for st in per.values():
        users.append(
            (
                frozenset(
                    c for c in ("view", "click", "signup") if st.get(c)
                ),
                st.get("purchase", 0) >= 14,
            )
        )

    def v(T):
        T = set(T)
        return sum(1 for s, conv in users if conv and s <= T)

    chans = ("view", "click", "signup")
    phi6 = {c: 0 for c in chans}
    for order in permutations(chans):
        cur = set()
        for c in order:
            phi6[c] += v(cur | {c}) - v(cur)
            cur.add(c)
    got = {
        r["channel"]: r
        for r in _Q["evt_attribution_shapley"].fn(spark, sf_dir).collect()
    }
    for c in chans:
        assert got[c]["phi_x6"] == phi6[c]
    s = sum(phi6.values())
    full, empty = v(set(chans)), v(set())
    assert s == 6 * (full - empty)  # efficiency axiom
    for c in chans:
        assert got[c]["phi_sum_x6"] == s
        assert got[c]["v_full"] == full and got[c]["v_empty"] == empty


def test_ts_holt_winters_replay(spark, sf_dir):
    """Python replay of the seasonal fold with the rotating 7-slot
    state; seasonals must be non-constant (the weekly signal the
    entry exists for)."""
    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    daily: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_date(ts_date)").alias("day"))
        .collect()
    ):
        k = (r["event_type"], r["day"])
        daily[k] = daily.get(k, 0) + 1
    per: dict = {}
    for (t, d), n in daily.items():
        per.setdefault(t, []).append((d, n))

    def h(a):
        return -((-a) // 2) if a < 0 else a // 2

    got = {
        r["event_type"]: r
        for r in _Q["ts_holt_winters"].fn(spark, sf_dir).collect()
    }
    for t, dn in per.items():
        if len(dn) < 14:
            assert t not in got
            continue
        dn.sort()
        xs = [x for _, x in dn]
        l = sum(xs[:7]) // 7
        b = 0
        ss = [x - l for x in xs[:7]]
        for x in xs[7:]:
            sm = ss[0]
            lp = h(x - sm + l + b)
            bp = h(lp - l + b)
            sn = h(x - lp + sm)
            l, b, ss = lp, bp, ss[1:] + [sn]
        r = got[t]
        assert r["n_days"] == len(xs)
        assert (r["level"], r["trend"]) == (l, b)
        assert (r["season_next"], r["season_last"]) == (ss[0], ss[6])
        assert r["forecast_1d"] == l + b + ss[0]
        assert r["forecast_7d"] == l + 7 * b + ss[6]
        assert len(set(ss)) > 1  # a real seasonal profile survived


def test_ml_mcc_matthews_replay(spark, sf_dir):
    """Confusion + signed-MCC² replay; the planted 25% flip noise
    must keep MCC well away from both 0 and 1."""
    import hashlib

    from pe_firm_investment_database_pipeline_spark.sources.tables import (
        load_table,
    )

    per: dict = {}
    for r in load_table(spark, sf_dir, "documents").collect():
        rel = (
            int(
                hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:12],
                16,
            )
            % 2
            == 0
        )
        h2 = int(
            hashlib.md5(f"{r['doc_id']}:mcc".encode()).hexdigest()[:12],
            16,
        )
        pred = (1 - int(rel)) if h2 % 4 == 0 else int(rel)
        c = per.setdefault(r["lang"], [0, 0, 0, 0])  # tp tn fp fn
        if rel and pred:
            c[0] += 1
        elif not rel and not pred:
            c[1] += 1
        elif not rel and pred:
            c[2] += 1
        else:
            c[3] += 1
    got = {
        r["lang"]: r
        for r in _Q["ml_mcc_matthews"].fn(spark, sf_dir).collect()
    }
    for lang, (tp, tn, fp, fn) in per.items():
        r = got[lang]
        assert (r["tp"], r["tn"], r["fp"], r["fn"]) == (tp, tn, fp, fn)
        num = tp * tn - fp * fn
        den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        want = (
            None
            if den == 0
            else (
                num * num * 1_000_000 // den
                if num >= 0
                else -(num * num * 1_000_000 // den)
            )
        )
        assert r["mcc2_signed_ppm"] == want
        # 25% symmetric flips -> MCC ~ 0.5 -> MCC^2 ~ 0.25e6
        assert 50_000 < r["mcc2_signed_ppm"] < 600_000
