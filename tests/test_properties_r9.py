"""Round-9 property tests: every new statistical operator validated
against a naive pure-Python model (engine parity alone cannot catch a
formula that is wrong identically on both sides — the r8 discipline).
"""

from __future__ import annotations

import math

import duckdb
import pytest

Z_A = 1.959964
Z_P = 0.841621


def _events(sf_dir):
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) "
        f"FROM read_parquet('{sf_dir}/events.parquet')").fetchall()
    con.close()
    return rows


def _per_user(rows):
    agg = {}
    for uid, et, v, _ in rows:
        y, nc, nb = agg.get(uid, (0.0, 0, 0))
        if et == "purchase":
            y, nc = y + round(v, 6), nc + 1
        elif et == "click":
            nb += 1
        agg[uid] = (y, nc, nb)
    return agg


def test_ab_srm_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    users = {uid for uid, *_ in rows}
    n_a = sum(1 for u in users if u % 2 == 0)
    n_b = len(users) - n_a
    want = (n_a - n_b) ** 2 / (n_a + n_b)
    got = registry.get("q_ab_srm").fn(spark, sf_dir).collect()[0]
    assert got["n_a"] == n_a and got["n_b"] == n_b
    assert got["chi2"] == pytest.approx(want, abs=1e-6)
    assert got["srm_detected"] == (want > 3.841459)


def test_ab_power_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    agg = _per_user(_events(sf_dir))
    n_a = sum(1 for u in agg if u % 2 == 0)
    n_b = len(agg) - n_a
    conv = sum(1 for u, (y, nc, nb) in agg.items() if nc > nb)
    p = conv / (n_a + n_b)
    mde = (Z_A + Z_P) * math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    got = registry.get("q_ab_power").fn(spark, sf_dir).collect()[0]
    assert (got["n_a"], got["n_b"]) == (n_a, n_b)
    assert got["p_pooled"] == pytest.approx(p, abs=1e-9)
    assert got["mde_abs"] == pytest.approx(mde, abs=1e-5)
    assert got["mde_rel"] == pytest.approx(mde / p, abs=1e-5)


def test_ab_delta_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    agg = _per_user(_events(sf_dir))
    out = {}
    for arm in (0, 1):
        pts = [(y, nb) for u, (y, nc, nb) in agg.items()
               if u % 2 == arm]
        k = len(pts)
        sy = sum(y for y, d in pts)
        sd = sum(d for y, d in pts)
        assert k > 1 and sd > 0, "fixture: degenerate arm"
        r = sy / sd
        ybar, dbar = sy / k, sd / k
        vyy = sum((y - ybar) ** 2 for y, d in pts) / (k - 1)
        vdd = sum((d - dbar) ** 2 for y, d in pts) / (k - 1)
        vyd = sum((y - ybar) * (d - dbar) for y, d in pts) / (k - 1)
        vr = (vyy - 2 * r * vyd + r * r * vdd) / (k * dbar * dbar)
        out[arm] = (k, r, vr)
    z = (out[0][1] - out[1][1]) / math.sqrt(out[0][2] + out[1][2])
    got = registry.get("q_ab_delta").fn(spark, sf_dir).collect()[0]
    assert (got["k_a"], got["k_b"]) == (out[0][0], out[1][0])
    assert got["ratio_a"] == pytest.approx(out[0][1], abs=1e-6)
    assert got["ratio_b"] == pytest.approx(out[1][1], abs=1e-6)
    # the naive model accumulates variance in a different order; the
    # z tolerance reflects float noise, not formula slack
    assert got["z_delta"] == pytest.approx(z, abs=1e-4)


def test_ab_sequential_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    purchases = sorted(
        ((ts.date(), uid % 2, round(v, 6))
         for uid, et, v, ts in rows if et == "purchase"))
    days = sorted({d for d, _, _ in purchases})
    total = len(purchases)
    got = {r["day"].isoformat() if hasattr(r["day"], "isoformat")
           else str(r["day"]): r
           for r in registry.get("q_ab_sequential").fn(spark, sf_dir)
           .collect()}
    assert len(got) == len(days)
    for day in days:
        upto = [(a, v) for d, a, v in purchases if d <= day]
        va_vb = []
        means = []
        ns = []
        for arm in (0, 1):
            vals = [v for a, v in upto if a == arm]
            n = len(vals)
            ns.append(n)
            means.append(sum(vals) / n if n else None)
            va_vb.append(
                sum((x - means[arm]) ** 2 for x in vals)
                / (n - 1) / n if n > 1 else None)
        r = got[day.isoformat()]
        assert (r["n_a"], r["n_b"]) == tuple(ns)
        info = sum(ns) / total
        assert r["info_frac"] == pytest.approx(info, abs=1e-6)
        bound = Z_A / math.sqrt(info)
        assert r["z_bound"] == pytest.approx(bound, abs=1e-5)
        if None in va_vb or sum(va_vb) <= 0:
            assert r["z"] is None and r["crossed"] is None
        else:
            z = (means[0] - means[1]) / math.sqrt(sum(va_vb))
            assert r["z"] == pytest.approx(z, abs=1e-4)
            # crossing is decided on the engine's own quantized pair
            # (a naive-float recompute can flip at the exact boundary)
            assert r["crossed"] == (abs(r["z"]) >= r["z_bound"])


def test_ab_sequential_boundary_tightens_monotonically(spark, sf_dir):
    # The OBF-style boundary must be strictly decreasing in the
    # information fraction: early looks demand more evidence.
    from sigma_rx7_spark import registry

    rows = sorted(registry.get("q_ab_sequential").fn(spark, sf_dir)
                  .collect(), key=lambda r: str(r["day"]))
    bounds = [r["z_bound"] for r in rows]
    assert all(b1 >= b2 for b1, b2 in zip(bounds, bounds[1:]))
    assert bounds[-1] == pytest.approx(Z_A, abs=1e-5)


def test_drift_wasserstein_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import _W1_CUTOFF

    import datetime as dt
    cutoff = dt.datetime.fromisoformat(_W1_CUTOFF)
    rows = _events(sf_dir)
    a = sorted(v for _, _, v, ts in rows if ts < cutoff)
    b = sorted(v for _, _, v, ts in rows if ts >= cutoff)
    # naive: integrate |ECDF_a - ECDF_b| across the merged support
    support = sorted(set(a) | set(b))
    w1, ca, cb = 0.0, 0, 0
    for v, v_next in zip(support, support[1:]):
        ca += a.count(v)
        cb += b.count(v)
        w1 += abs(ca / len(a) - cb / len(b)) * (v_next - v)
    got = registry.get("q_drift_wasserstein").fn(spark, sf_dir) \
        .collect()[0]
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))
    # per-segment 9-dp quantization bounds the drift at n_segments*1e-9
    assert got["wasserstein_1"] == pytest.approx(
        w1, abs=1e-9 * len(support) + 1e-9)


def test_window_drawdown_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    by_type = {}
    for uid, et, v, ts in rows:
        by_type.setdefault(et, {}).setdefault(ts.date(), []).append(
            round(v, 6))
    got = {r["event_type"]: r for r in
           registry.get("q_window_drawdown").fn(spark, sf_dir).collect()}
    for et, days in by_type.items():
        cum, peak, mdd, mfrac, peak_seen = 0.0, None, 0.0, None, 0.0
        for day in sorted(days):
            cum = round(cum + sum(days[day]), 6)
            peak_seen = max(peak_seen, cum)
            mdd = max(mdd, round(peak_seen - cum, 6))
            if peak_seen > 0:
                f = (peak_seen - cum) / peak_seen
                mfrac = f if mfrac is None else max(mfrac, f)
        r = got[et]
        assert r["n_days"] == len(days)
        assert r["max_drawdown"] == pytest.approx(mdd, abs=1e-6)
        if mfrac is not None:
            assert r["max_drawdown_frac"] == pytest.approx(mfrac, abs=1e-5)


def test_window_rolling_corr_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.windows import ROLL_CORR_DAYS

    rows = _events(sf_dir)
    daily = {}
    for uid, et, v, ts in rows:
        x, y = daily.get(ts.date(), (0.0, 0))
        if et == "purchase":
            x = round(x + round(v, 6), 6)
        elif et == "click":
            y += 1
        daily[ts.date()] = (x, y)
    days = sorted(daily)
    got = {str(r["day"]): r for r in
           registry.get("q_window_rolling_corr").fn(spark, sf_dir)
           .collect()}
    assert len(got) == len(days)
    for d in days:
        frame = [daily[e] for e in days
                 if 0 <= (d - e).days <= ROLL_CORR_DAYS - 1]
        n = len(frame)
        r = got[str(d)]
        assert r["n_days"] == n
        sx = sum(x for x, y in frame)
        sy = sum(y for x, y in frame)
        sxx = sum(x * x for x, y in frame)
        syy = sum(y * y for x, y in frame)
        sxy = sum(x * y for x, y in frame)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if n < 2 or vx <= 0 or vy <= 0:
            assert r["rolling_corr"] is None
        else:
            want = (n * sxy - sx * sy) / math.sqrt(vx * vy)
            assert r["rolling_corr"] == pytest.approx(want, abs=1e-4)


def test_bloom_invariants(spark, sf_dir):
    # The Bloom guarantee: zero false negatives at ANY parameters, and
    # every true member is bloom-positive.
    from sigma_rx7_spark import registry

    r = registry.get("q_agg_bloom").fn(spark, sf_dir).collect()[0]
    assert r["n_false_negative"] == 0
    assert r["n_bloom_positive"] >= r["n_members"]
    assert r["n_bloom_positive"] - r["n_members"] == r["n_false_positive"]
    if r["false_positive_rate"] is not None:
        assert 0.0 <= r["false_positive_rate"] <= 1.0


def test_systematic_sample_counts_exact(spark, sf_dir):
    # Systematic sampling's defining property vs Bernoulli gates:
    # per-stratum sample size is exactly ceil(n/k), no wobble.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.sampling import SYSTEMATIC_K

    for r in registry.get("q_sample_systematic").fn(spark, sf_dir) \
            .collect():
        want = -(-r["n_docs"] // SYSTEMATIC_K)  # ceil-div
        assert r["n_sampled"] == want, (r["lang"], r["n_docs"],
                                        r["n_sampled"], want)


def test_gopher_rules_match_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.functions.text import (EN_STOPWORDS,
                                                GOPHER_MAX_DIGIT_RATIO,
                                                GOPHER_MAX_WORDS,
                                                GOPHER_MIN_STOPWORDS,
                                                GOPHER_MIN_WORDS,
                                                GOPHER_WL_MAX,
                                                GOPHER_WL_MIN)

    con = duckdb.connect()
    texts = [t for (t,) in con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()]
    con.close()
    fails = {k: 0 for k in ("word_count_low", "word_count_high",
                            "mean_word_length", "stopword_floor",
                            "digit_ratio", "all_rules_pass")}
    for t in texts:
        toks = [w for w in t.split(" ") if w]
        n = len(toks)
        nospace = len(t.replace(" ", ""))
        digits = sum(ch.isdigit() for ch in t)
        hits = sum(1 for w in EN_STOPWORDS if w in toks)
        f = {
            "word_count_low": n < GOPHER_MIN_WORDS,
            "word_count_high": n > GOPHER_MAX_WORDS,
            "mean_word_length": n == 0 or not (
                GOPHER_WL_MIN <= nospace / n <= GOPHER_WL_MAX),
            "stopword_floor": hits < GOPHER_MIN_STOPWORDS,
            "digit_ratio": nospace == 0
            or digits / nospace > GOPHER_MAX_DIGIT_RATIO,
        }
        for k, v in f.items():
            fails[k] += v
        fails["all_rules_pass"] += any(f.values())
    got = {r["rule"]: r for r in
           registry.get("q_text_gopher_rules").fn(spark, sf_dir)
           .collect()}
    for k, want in fails.items():
        assert got[k]["n_fail"] == want, (k, got[k]["n_fail"], want)
        assert got[k]["n_docs"] == len(texts)


def test_target_encode_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.functions.scoring import TE_SMOOTHING

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT o_orderpriority, o_totalprice "
        f"FROM read_parquet('{sf_dir}/orders.parquet')").fetchall()
    con.close()
    by_cat = {}
    for cat, v in rows:
        n, s = by_cat.get(cat, (0, 0.0))
        by_cat[cat] = (n + 1, s + round(v, 6))
    gmean = sum(s for n, s in by_cat.values()) / len(rows)
    got = {r["category"]: r for r in
           registry.get("q_feature_target_encode").fn(spark, sf_dir)
           .collect()}
    assert set(got) == set(by_cat)
    for cat, (n, s) in by_cat.items():
        r = got[cat]
        assert r["n"] == n
        assert r["raw_mean"] == pytest.approx(s / n, abs=1e-4)
        want = (s + TE_SMOOTHING * gmean) / (n + TE_SMOOTHING)
        assert r["encoded"] == pytest.approx(want, abs=1e-4)
        # shrinkage direction: encoded lies between raw and global mean
        lo, hi = sorted((s / n, gmean))
        assert lo - 1e-6 <= r["encoded"] <= hi + 1e-6


def test_forecast_backtest_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.timeseries import FC_SEASON_DAYS

    rows = _events(sf_dir)
    daily = {}
    for uid, et, v, ts in rows:
        k = (et, ts.date())
        daily[k] = round(daily.get(k, 0.0) + round(v, 6), 6)
    import datetime as dt
    got = {r["event_type"]: r for r in
           registry.get("q_ts_forecast_backtest").fn(spark, sf_dir)
           .collect()}
    types = {et for et, _ in daily}
    for et in types:
        pairs = [(daily[(et, d)], daily[(et, d - dt.timedelta(
            days=FC_SEASON_DAYS))])
            for (e2, d) in daily if e2 == et
            and (et, d - dt.timedelta(days=FC_SEASON_DAYS)) in daily]
        if not pairs:
            assert et not in got
            continue
        n = len(pairs)
        mae = sum(abs(a - f) for a, f in pairs) / n
        bias = sum(f - a for a, f in pairs) / n
        r = got[et]
        assert r["n_scored_days"] == n
        assert r["mae"] == pytest.approx(mae, abs=1e-5)
        assert r["bias"] == pytest.approx(bias, abs=1e-5)
        if all(a != 0 for a, f in pairs):
            mape = sum(abs(a - f) / abs(a) for a, f in pairs) / n
            assert r["mape"] == pytest.approx(mape, abs=1e-5)
        else:
            assert r["mape"] is None


def test_window_growth_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    weekly = {}
    for uid, et, v, ts in rows:
        monday = ts.date() - __import__("datetime").timedelta(
            days=ts.date().weekday())
        k = (et, monday)
        n, s = weekly.get(k, (0, 0.0))
        weekly[k] = (n + 1, round(s + round(v, 6), 6))
    got = {(r["event_type"], str(r["week_start"])): r for r in
           registry.get("q_window_growth").fn(spark, sf_dir).collect()}
    assert len(got) == len(weekly)
    for (et, wk), (n, s) in weekly.items():
        r = got[(et, str(wk))]
        assert r["n_events"] == n
        assert r["revenue"] == pytest.approx(s, abs=1e-5)
        prev_weeks = sorted(w for (e2, w) in weekly if e2 == et)
        idx = prev_weeks.index(wk)
        if idx == 0:
            assert r["wow_growth"] is None
        else:
            prev = weekly[(et, prev_weeks[idx - 1])][1]
            if prev == 0:
                assert r["wow_growth"] is None
            else:
                assert r["wow_growth"] == pytest.approx(
                    (s - prev) / prev, abs=1e-5)


def test_stream_srm_equals_batch_srm(spark, sf_dir):
    # Lambda-architecture equivalence: the streamed guardrail verdict
    # must equal the batch one row for row.
    from sigma_rx7_spark import registry

    batch = registry.get("q_ab_srm").fn(spark, sf_dir).collect()[0]
    stream = registry.get("q_stream_srm").fn(spark, sf_dir).collect()[0]
    assert tuple(batch) == tuple(stream)


def test_profile_drift_flags_are_consistent(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import DRIFT_NULL_RATE_TOL

    rows = {r["metric"]: r for r in
            registry.get("q_quality_profile_drift").fn(spark, sf_dir)
            .collect()}
    assert set(rows) == {"user_id_null_rate", "value_null_rate",
                         "event_type_distinct", "value_mean"}
    for m in ("user_id_null_rate", "value_null_rate"):
        r = rows[m]
        want = abs(r["after_v"] - r["before_v"]) > DRIFT_NULL_RATE_TOL
        # quantized values can flip only within 1e-6 of the tolerance
        if abs(abs(r["after_v"] - r["before_v"])
               - DRIFT_NULL_RATE_TOL) > 1e-5:
            assert r["drifted"] == want, (m, r)
    r = rows["event_type_distinct"]
    assert r["drifted"] == (r["before_v"] != r["after_v"])


def test_ab_paired_matches_naive_model(spark, sf_dir):
    import datetime as dt

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.aggregates import PAIRED_CUTOFF

    cutoff = dt.datetime.fromisoformat(PAIRED_CUTOFF)
    rows = _events(sf_dir)
    per = {}
    for uid, et, v, ts in rows:
        if et != "purchase":
            continue
        nb, sb, na_, sa = per.get(uid, (0, 0.0, 0, 0.0))
        if ts < cutoff:
            nb, sb = nb + 1, sb + round(v, 6)
        else:
            na_, sa = na_ + 1, sa + round(v, 6)
        per[uid] = (nb, sb, na_, sa)
    diffs = [round(sa / na_ - sb / nb, 6)
             for nb, sb, na_, sa in per.values() if nb > 0 and na_ > 0]
    k = len(diffs)
    got = registry.get("q_ab_paired").fn(spark, sf_dir).collect()[0]
    assert got["n_pairs"] == k
    mean = sum(diffs) / k
    var = sum((d - mean) ** 2 for d in diffs) / (k - 1)
    t = mean / math.sqrt(var / k)
    assert got["mean_diff"] == pytest.approx(mean, abs=1e-5)
    assert got["t_paired"] == pytest.approx(t, abs=1e-4)
    assert got["df"] == k - 1


def test_ab_anova_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    groups = {}
    for uid, et, v, ts in rows:
        groups.setdefault(et, []).append(round(v, 6))
    vals = [v for g in groups.values() for v in g]
    grand = sum(vals) / len(vals)
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2
              for g in groups.values())
    ssw = sum(sum((x - sum(g) / len(g)) ** 2 for x in g)
              for g in groups.values())
    k, n = len(groups), len(vals)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    got = registry.get("q_ab_anova").fn(spark, sf_dir).collect()[0]
    assert (got["n_groups"], got["n_total"]) == (k, n)
    assert got["ss_between"] == pytest.approx(ssb, rel=1e-4)
    assert got["ss_within"] == pytest.approx(ssw, rel=1e-4)
    assert got["f_stat"] == pytest.approx(f, rel=1e-4)


def test_calibration_bins_partition_corpus(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = registry.get("q_ml_calibration").fn(spark, sf_dir).collect()
    n_docs = registry.get("q_text_gopher_rules").fn(spark, sf_dir) \
        .collect()[0]["n_docs"]
    assert sum(r["n"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["mean_predicted"] <= 1.0
        assert 0.0 <= r["observed_rate"] <= 1.0
        assert r["calibration_gap"] == pytest.approx(
            abs(r["mean_predicted"] - r["observed_rate"]), abs=2e-6)


def test_stream_psi_nonnegative_and_daily(spark, sf_dir):
    # PSI is a sum of terms (q-p)*ln(q/p), each >= 0 — the daily
    # monitor can never report negative drift.
    from sigma_rx7_spark import registry

    rows = registry.get("q_stream_psi").fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["psi"] >= -1e-9, r
        assert r["n_events"] > 0


def test_agg_moments_match_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _events(sf_dir)
    groups = {}
    for uid, et, v, ts in rows:
        groups.setdefault(et, []).append(float(v))
    got = {r["event_type"]: r for r in
           registry.get("q_agg_moments").fn(spark, sf_dir).collect()}
    for et, xs in groups.items():
        n = len(xs)
        m = sum(xs) / n
        v_ = sum((x - m) ** 2 for x in xs) / n
        m3 = sum((x - m) ** 3 for x in xs) / n
        m4 = sum((x - m) ** 4 for x in xs) / n
        r = got[et]
        assert r["n"] == n
        assert r["mean"] == pytest.approx(m, abs=1e-4)
        if n >= 2 and v_ > 0:
            # catastrophic cancellation in the raw-sums form costs a few
            # digits; the tolerance reflects that, not formula slack
            assert r["skewness"] == pytest.approx(
                m3 / v_ ** 1.5, rel=2e-3, abs=2e-3)
            assert r["excess_kurtosis"] == pytest.approx(
                m4 / v_ ** 2 - 3.0, rel=2e-3, abs=2e-3)


def test_kcore_invariants(spark, sf_dir):
    # When converged, every core node has degree >= k inside the core,
    # and the core edge count is consistent with a simple graph.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.graph import KCORE_K

    r = registry.get("q_graph_kcore").fn(spark, sf_dir).collect()[0]
    if r["converged"] and r["n_core_nodes"] > 0:
        assert r["min_core_degree"] >= KCORE_K
        assert r["n_core_edges"] >= r["n_core_nodes"] * KCORE_K // 2
    if r["n_core_nodes"] == 0:
        assert r["n_core_edges"] == 0 and r["min_core_degree"] is None


def test_ml_auc_matches_naive_model(spark, sf_dir, quality_scored):
    # AUC via naive pairwise comparison (ties half credit) over the
    # same (y, p) relation the engine scores.
    from sigma_rx7_spark import registry

    pairs = quality_scored
    pos = [s for y, s in pairs if y == 1.0]
    neg = [s for y, s in pairs if y == 0.0]
    wins = sum(1.0 if sp > sn else 0.5 if sp == sn else 0.0
               for sp in pos for sn in neg)
    want = wins / (len(pos) * len(neg))
    got = registry.get("q_ml_auc").fn(spark, sf_dir).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))
    assert got["auc"] == pytest.approx(want, abs=1e-6)
    assert 0.0 <= got["auc"] <= 1.0


def test_blocking_audit_matches_seeded_misses(spark, sf_dir):
    # The dirty feed shifts every record whose trailing customer number
    # is divisible by 7 into the next nation — exactly those true pairs
    # (and only those) must fall outside their block.
    import re

    from sigma_rx7_spark import registry

    con = duckdb.connect()
    names = [n for (n,) in con.execute(
        f"SELECT c_name FROM read_parquet('{sf_dir}/customer.parquet')"
    ).fetchall()]
    con.close()
    nums = [int(re.search(r"(\d+)$", n).group(1)) for n in names]
    n_shifted = sum(1 for x in nums if x % 7 == 0)
    r = registry.get("q_link_blocking_audit").fn(spark, sf_dir) \
        .collect()[0]
    assert r["n_true_pairs"] == len(nums)
    assert r["n_true_pairs"] - r["n_blocked_true"] == n_shifted
    assert r["pair_completeness"] == pytest.approx(
        1 - n_shifted / len(nums), abs=1e-5)
    assert 0.0 < r["reduction_ratio"] < 1.0


def test_ab_fdr_pvalues_and_bh_match_naive(spark, sf_dir):
    # p-values must agree with the EXACT normal tail (erfc) within the
    # Abramowitz-Stegun polynomial's documented 7.5e-8 envelope, and
    # the reject set must equal a naive Python Benjamini-Hochberg.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.aggregates import FDR_Q

    rows = sorted(registry.get("q_ab_fdr").fn(spark, sf_dir).collect(),
                  key=lambda r: r["p_rank"])
    assert rows
    m = len(rows)
    for r in rows:
        exact = math.erfc(abs(r["z"]) / math.sqrt(2.0))
        assert r["p_value"] == pytest.approx(exact, abs=2e-7)
        assert r["bh_threshold"] == pytest.approx(
            r["p_rank"] / m * FDR_Q, abs=1e-9)
    ps = [r["p_value"] for r in rows]
    max_ok = max((i + 1 for i, p in enumerate(ps)
                  if p <= (i + 1) / m * FDR_Q), default=0)
    for i, r in enumerate(rows):
        assert r["reject"] == (i + 1 <= max_ok), (r, max_ok)
    # ranks are a permutation and p is non-decreasing in rank
    assert [r["p_rank"] for r in rows] == list(range(1, m + 1))
    assert all(a["p_value"] <= b["p_value"]
               for a, b in zip(rows, rows[1:]))
