"""Round-10 property tests: every new statistical operator validated
against a naive pure-Python model (engine parity alone cannot catch a
formula that is wrong identically on both sides — the r8 discipline).
"""

from __future__ import annotations

import math

import duckdb
import pytest


def _fetch(sf_dir, sql):
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def _avg_ranks(xs):
    """Textbook average ranks (1-based, ties share the mean rank)."""
    order = sorted(range(len(xs)), key=lambda i: xs[i])
    ranks = [0.0] * len(xs)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
            j += 1
        r = (i + 1 + j + 1) / 2.0
        for k in range(i, j + 1):
            ranks[order[k]] = r
        i = j + 1
    return ranks


def _pearson(xs, ys):
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx <= 0 or vy <= 0:
        return None
    return (n * sxy - sx * sy) / math.sqrt(vx * vy)


def test_spearman_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT l_returnflag, l_quantity, "
                          "l_extendedprice FROM lineitem")
    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, ([], []))
        by_g[g][0].append(float(x))
        by_g[g][1].append(float(y))
    got = {r["l_returnflag"]: (r["n"], r["spearman_rho"]) for r in
           registry.get("q_agg_spearman").fn(spark, sf_dir).collect()}
    assert set(got) == set(by_g)
    for g, (xs, ys) in by_g.items():
        want = _pearson(_avg_ranks(xs), _avg_ranks(ys))
        n, rho = got[g]
        assert n == len(xs)
        if want is None:
            assert rho is None
        else:
            assert rho == pytest.approx(want, abs=1e-5)


def _contingency(sf_dir):
    rows = _fetch(sf_dir, "SELECT o_orderstatus, o_orderpriority "
                          "FROM orders")
    cells, rt, ct = {}, {}, {}
    for r, c in rows:
        cells[(r, c)] = cells.get((r, c), 0) + 1
        rt[r] = rt.get(r, 0) + 1
        ct[c] = ct.get(c, 0) + 1
    return cells, rt, ct, len(rows)


def test_cramers_v_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    cells, rt, ct, n = _contingency(sf_dir)
    chi2 = sum((o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
               for (r, c), o in cells.items())
    want_v = math.sqrt(chi2 / (n * min(len(rt) - 1, len(ct) - 1)))
    got = registry.get("q_agg_cramers_v").fn(spark, sf_dir).collect()[0]
    assert got["n"] == n
    assert (got["n_rows"], got["n_cols"]) == (len(rt), len(ct))
    assert got["chi_square"] == pytest.approx(chi2, abs=1e-4)
    assert got["cramers_v"] == pytest.approx(want_v, abs=1e-5)
    assert 0.0 <= got["cramers_v"] <= 1.0


def test_mutual_info_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    cells, rt, ct, n = _contingency(sf_dir)
    mi = sum((o / n) * math.log(o * n / (rt[r] * ct[c]))
             for (r, c), o in cells.items())
    got = registry.get("q_agg_mutual_info").fn(spark, sf_dir).collect()[0]
    assert got["n"] == n and got["n_cells"] == len(cells)
    assert got["mi_nats"] == pytest.approx(mi, abs=1e-5)
    assert got["mi_bits"] == pytest.approx(mi / math.log(2), abs=1e-5)
    assert got["mi_nats"] >= -1e-9  # MI is non-negative


def test_lorenz_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT o_custkey, "
                          "SUM(CAST(o_totalprice AS DECIMAL(20,6))) "
                          "FROM orders GROUP BY 1")
    spend = sorted((float(s), k) for k, s in rows)
    n = len(spend)
    # ntile semantics: first (n % 10) tiles get ceil(n/10) members.
    base, extra = divmod(n, 10)
    sizes = [base + (1 if i < extra else 0) for i in range(10)]
    got = sorted(registry.get("q_agg_lorenz").fn(spark, sf_dir).collect(),
                 key=lambda r: r["decile"])
    assert [r["n_customers"] for r in got] == sizes
    total = sum(s for s, _ in spend)
    idx, cum = 0, 0.0
    for i, r in enumerate(got):
        tile = spend[idx:idx + sizes[i]]
        idx += sizes[i]
        cum += sum(s for s, _ in tile)
        assert r["decile_spend"] == pytest.approx(
            sum(s for s, _ in tile), rel=1e-9)
        assert r["cum_share"] == pytest.approx(cum / total, abs=1e-5)
    # Lorenz curve is increasing and ends at 1.
    shares = [r["cum_share"] for r in got]
    assert shares == sorted(shares) and shares[-1] == pytest.approx(1.0)


def test_theil_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT c.c_nationkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_nationkey""")
    xs = [(g, float(x)) for g, x in rows]
    n = len(xs)
    mu = sum(x for _, x in xs) / n
    t_total = sum((x / mu) * math.log(x / mu) for _, x in xs if x > 0) / n
    grp = {}
    for g, x in xs:
        cnt, s = grp.get(g, (0, 0.0))
        grp[g] = (cnt + 1, s + x)
    t_between = sum(
        (cnt / n) * ((s / cnt) / mu) * math.log((s / cnt) / mu)
        for cnt, s in grp.values() if s > 0)
    got = registry.get("q_agg_theil").fn(spark, sf_dir).collect()[0]
    assert got["n_customers"] == n and got["n_groups"] == len(grp)
    assert got["theil_total"] == pytest.approx(t_total, abs=1e-5)
    assert got["theil_between"] == pytest.approx(t_between, abs=1e-5)
    assert got["theil_within"] == pytest.approx(t_total - t_between,
                                                abs=2e-6)
    # decomposition components are non-negative (Theil property)
    assert got["theil_between"] >= -1e-9
    assert got["theil_within"] >= -1e-9


def _split_counts(sf_dir, cutoff):
    rows = _fetch(sf_dir, f"""
        SELECT event_type,
               SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                        < TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END),
               SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                        >= TIMESTAMP '{cutoff}' THEN 1 ELSE 0 END)
        FROM events GROUP BY 1""")
    return {cat: (int(a), int(b)) for cat, a, b in rows}


def test_drift_js_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import _JS_CUTOFF

    counts = _split_counts(sf_dir, _JS_CUTOFF)
    n_a = sum(a for a, _ in counts.values())
    n_b = sum(b for _, b in counts.values())
    js = 0.0
    for a, b in counts.values():
        pa, pb = a / n_a, b / n_b
        m = 0.5 * (pa + pb)
        if a:
            js += 0.5 * pa * math.log(pa / m)
        if b:
            js += 0.5 * pb * math.log(pb / m)
    got = registry.get("q_drift_js").fn(spark, sf_dir).collect()[0]
    assert (got["n_a"], got["n_b"]) == (n_a, n_b)
    assert got["js_nats"] == pytest.approx(js, abs=1e-5)
    assert got["js_bits"] == pytest.approx(js / math.log(2), abs=1e-5)
    assert -1e-9 <= got["js_nats"] <= math.log(2) + 1e-9  # JS bound


def test_drift_categorical_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import _CAT_CUTOFF

    counts = _split_counts(sf_dir, _CAT_CUTOFF)
    n_a = sum(a for a, _ in counts.values())
    n_b = sum(b for _, b in counts.values())
    n = n_a + n_b
    chi2 = tvd = 0.0
    for a, b in counts.values():
        ea, eb = (a + b) * n_a / n, (a + b) * n_b / n
        chi2 += (a - ea) ** 2 / ea + (b - eb) ** 2 / eb
        tvd += 0.5 * abs(a / n_a - b / n_b)
    got = registry.get("q_drift_categorical").fn(spark, sf_dir) \
        .collect()[0]
    assert (got["n_a"], got["n_b"]) == (n_a, n_b)
    assert got["n_categories"] == len(counts)
    assert got["df"] == len(counts) - 1
    assert got["chi_square"] == pytest.approx(chi2, abs=1e-4)
    assert got["tvd"] == pytest.approx(tvd, abs=1e-6)
    assert 0.0 <= got["tvd"] <= 1.0


def test_survival_km_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.timeseries import KM_CENSOR_DAYS

    rows = _fetch(sf_dir, """
        SELECT CAST(MAX(CAST(o_orderdate AS DATE))
                    - MIN(CAST(o_orderdate AS DATE)) AS BIGINT),
               MAX(CAST(o_orderdate AS DATE))
        FROM orders GROUP BY o_custkey""")
    horizon = max(last for _, last in rows)
    durs = [(int(t), (horizon - last).days > KM_CENSOR_DAYS)
            for t, last in rows]
    # naive KM
    times = sorted({t for t, _ in durs})
    surv, want = 1.0, {}
    for t in times:
        n_risk = sum(1 for d, _ in durs if d >= t)
        d_t = sum(1 for d, ob in durs if d == t and ob)
        if d_t > 0 and d_t < n_risk:
            surv *= 1.0 - d_t / n_risk
            want[t] = (n_risk, d_t, surv)
    got = {r["t_days"]: r for r in
           registry.get("q_survival_km").fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    prev = 1.0 + 1e-12
    for t in sorted(want):
        n_risk, d_t, s = want[t]
        r = got[t]
        assert r["n_risk"] == n_risk and r["n_events"] == d_t
        assert r["survival"] == pytest.approx(s, abs=1e-4)
        assert r["survival"] <= prev  # KM curve is non-increasing
        prev = r["survival"]


def test_mann_kendall_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT event_type,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               COUNT(*) FROM events GROUP BY 1, 2""")
    by_g = {}
    for g, day, c in rows:
        by_g.setdefault(g, []).append((day, int(c)))
    got = {r["event_type"]: r for r in
           registry.get("q_ts_mann_kendall").fn(spark, sf_dir).collect()}
    assert set(got) == set(by_g)
    for g, series in by_g.items():
        xs = [c for _, c in sorted(series)]
        n = len(xs)
        s = sum((xs[j] > xs[i]) - (xs[j] < xs[i])
                for i in range(n) for j in range(i + 1, n))
        ties = {}
        for x in xs:
            ties[x] = ties.get(x, 0) + 1
        var_s = (n * (n - 1) * (2 * n + 5)
                 - sum(t * (t - 1) * (2 * t + 5)
                       for t in ties.values())) / 18.0
        r = got[g]
        assert r["n_days"] == n and r["s_stat"] == s
        assert r["var_s"] == pytest.approx(var_s, abs=1e-6)
        if var_s <= 0:
            assert r["z_mk"] is None
        elif s == 0:
            assert r["z_mk"] == 0.0
        else:
            want_z = (s - (1 if s > 0 else -1) * 1) / math.sqrt(var_s) \
                if abs(s) else 0.0
            want_z = (s - 1) / math.sqrt(var_s) if s > 0 \
                else (s + 1) / math.sqrt(var_s)
            assert r["z_mk"] == pytest.approx(want_z, abs=1e-5)


def test_rfm_quintiles_are_balanced_and_consistent(spark, sf_dir):
    from sigma_rx7_spark import registry

    got = registry.get("q_window_rfm").fn(spark, sf_dir).collect()
    n = len(got)
    for col in ("r_score", "f_score", "m_score"):
        counts = {}
        for r in got:
            counts[r[col]] = counts.get(r[col], 0) + 1
        assert set(counts) == {1, 2, 3, 4, 5}
        assert max(counts.values()) - min(counts.values()) <= 1
    # Monotone consistency: the max monetary in tile k is <= the min in
    # tile k+1 ONLY up to the custkey tiebreak at exact ties; check the
    # strict version on distinct values.
    by_m = sorted(got, key=lambda r: (r["monetary"], r["o_custkey"]))
    tiles = [r["m_score"] for r in by_m]
    assert tiles == sorted(tiles)
    for r in got:
        assert r["rfm_cell"] == (r["r_score"] * 100 + r["f_score"] * 10
                                 + r["m_score"])
    assert n == len({r["o_custkey"] for r in got})


def test_bollinger_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.windows import BOLL_K, BOLL_WIN

    rows = _fetch(sf_dir, """
        SELECT event_type,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
        FROM events GROUP BY 1, 2""")
    by_g = {}
    for g, day, v in rows:
        by_g.setdefault(g, []).append((day, float(v)))
    want = {}
    for g, series in by_g.items():
        series.sort()
        for i in range(BOLL_WIN - 1, len(series)):
            win = [v for _, v in series[i - BOLL_WIN + 1:i + 1]]
            m = sum(win) / BOLL_WIN
            var = sum(x * x for x in win) / BOLL_WIN - m * m
            sd = math.sqrt(max(var, 0.0))
            want[(g, series[i][0])] = (series[i][1], m, m - BOLL_K * sd,
                                       m + BOLL_K * sd)
    got = {(r["event_type"], r["day"]): r for r in
           registry.get("q_window_bollinger").fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for k, (v, m, lo, hi) in want.items():
        r = got[k]
        assert r["v"] == pytest.approx(v, abs=1e-4)
        assert r["mid"] == pytest.approx(m, abs=1e-4)
        assert r["lower_band"] == pytest.approx(lo, abs=1e-3)
        assert r["upper_band"] == pytest.approx(hi, abs=1e-3)
        assert r["breach"] == (v > hi or v < lo) or \
            abs(v - hi) < 1e-6 or abs(v - lo) < 1e-6


def test_cohort_ltv_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP), o_totalprice
        FROM orders""")
    first_m = {}
    for k, d, p in rows:
        m = (d.year, d.month)
        if k not in first_m or m < first_m[k]:
            first_m[k] = m
    sizes, rev = {}, {}
    for k, m in first_m.items():
        sizes[m] = sizes.get(m, 0) + 1
    for k, d, p in rows:
        cm = first_m[k]
        mi = (d.year * 12 + d.month) - (cm[0] * 12 + cm[1])
        rev[(cm, mi)] = rev.get((cm, mi), 0.0) + round(p, 6)
    got = registry.get("q_cohort_ltv").fn(spark, sf_dir).collect()
    assert len(got) == len(rev)
    by_key = {((r["cohort_month"].year, r["cohort_month"].month),
               r["month_index"]): r for r in got}
    for (cm, mi), revenue in rev.items():
        r = by_key[(cm, mi)]
        assert r["cohort_size"] == sizes[cm]
        assert r["revenue"] == pytest.approx(revenue, abs=1e-3)
        cum = sum(v for (c2, m2), v in rev.items()
                  if c2 == cm and m2 <= mi)
        assert r["ltv_per_customer"] == pytest.approx(
            cum / sizes[cm], abs=1e-3)


def test_pr_curve_matches_naive_model(spark, sf_dir, quality_scored):
    from sigma_rx7_spark import registry

    scored = quality_scored
    n_pos = sum(1 for y, _ in scored if y == 1.0)
    got = sorted(registry.get("q_ml_pr_curve").fn(spark, sf_dir)
                 .collect(), key=lambda r: -r["threshold"])
    thresholds = sorted({p for _, p in scored}, reverse=True)
    assert [r["threshold"] for r in got] == thresholds
    prev_recall = -1.0
    for r in got:
        t = r["threshold"]
        tp = sum(1 for y, p in scored if p >= t and y == 1.0)
        fp = sum(1 for y, p in scored if p >= t and y == 0.0)
        assert (r["tp"], r["fp"]) == (tp, fp)
        assert r["precision"] == pytest.approx(tp / (tp + fp), abs=1e-6)
        assert r["recall"] == pytest.approx(tp / n_pos, abs=1e-6)
        if tp:
            prec, rec = tp / (tp + fp), tp / n_pos
            assert r["f1"] == pytest.approx(
                2 * prec * rec / (prec + rec), abs=1e-5)
        assert r["recall"] >= prev_recall  # monotone as threshold falls
        prev_recall = r["recall"]
    assert got[-1]["recall"] == pytest.approx(1.0)


def test_brier_matches_naive_model(spark, sf_dir, quality_scored):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.pipeline import CAL_BINS

    scored = quality_scored
    n = len(scored)
    obar = sum(y for y, _ in scored) / n
    brier = sum((p - y) ** 2 for y, p in scored) / n
    bins = {}
    for y, p in scored:
        b = min(int(p * CAL_BINS), CAL_BINS - 1)
        cnt, sp, sy = bins.get(b, (0, 0.0, 0.0))
        bins[b] = (cnt + 1, sp + p, sy + y)
    rel = sum(c * (sp / c - sy / c) ** 2 for c, sp, sy in bins.values()) / n
    res = sum(c * (sy / c - obar) ** 2 for c, sp, sy in bins.values()) / n
    unc = obar * (1 - obar)
    got = registry.get("q_ml_brier").fn(spark, sf_dir).collect()[0]
    assert got["n"] == n
    assert got["brier"] == pytest.approx(brier, abs=1e-5)
    assert got["reliability"] == pytest.approx(rel, abs=1e-5)
    assert got["resolution"] == pytest.approx(res, abs=1e-5)
    assert got["uncertainty"] == pytest.approx(unc, abs=1e-6)
    assert got["decomposition_gap"] == pytest.approx(
        brier - (rel - res + unc), abs=1e-5)


def test_ab_bayes_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id""")
    n_a = n_b = conv_a = conv_b = 0
    for uid, npu, ncl in rows:
        conv = 1 if npu > ncl else 0
        if uid % 2 == 0:
            n_a += 1
            conv_a += conv
        else:
            n_b += 1
            conv_b += conv
    p_a, p_b = conv_a / n_a, conv_b / n_b
    se = math.sqrt(p_a * (1 - p_a) / n_a + p_b * (1 - p_b) / n_b)
    z = (p_b - p_a) / se
    phi = 0.5 * (1.0 + math.erf(z / math.sqrt(2)))
    got = registry.get("q_ab_bayes").fn(spark, sf_dir).collect()[0]
    assert (got["n_a"], got["conv_a"]) == (n_a, conv_a)
    assert (got["n_b"], got["conv_b"]) == (n_b, conv_b)
    assert got["p_a"] == pytest.approx(p_a, abs=1e-6)
    assert got["p_b"] == pytest.approx(p_b, abs=1e-6)
    assert got["z_unpooled"] == pytest.approx(z, abs=1e-5)
    # A&S 26.2.17 is accurate to 7.5e-8 against the true Phi.
    assert got["prob_b_beats_a"] == pytest.approx(phi, abs=1e-6)


def test_assoc_rules_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.aggregates import ASSOC_MIN_SUPPORT
    from sigma_rx7_spark.operators.graph import COPURCHASE_MAX_LINES

    rows = _fetch(sf_dir, "SELECT DISTINCT l_orderkey, l_partkey "
                          "FROM lineitem")
    baskets = {}
    for o, p in rows:
        baskets.setdefault(o, []).append(p)
    baskets = {o: sorted(ps)[:COPURCHASE_MAX_LINES]
               for o, ps in baskets.items()}
    n_orders = len(baskets)
    item, pair = {}, {}
    for ps in baskets.values():
        for p in ps:
            item[p] = item.get(p, 0) + 1
        for x in ps:
            for y in ps:
                if x != y:
                    pair[(x, y)] = pair.get((x, y), 0) + 1
    want = {k: v for k, v in pair.items() if v >= ASSOC_MIN_SUPPORT}
    got = {(r["ante"], r["cons"]): r for r in
           registry.get("q_agg_assoc_rules").fn(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for (a, c), supp in want.items():
        r = got[(a, c)]
        assert r["support"] == supp
        assert r["support_ante"] == item[a]
        assert r["support_cons"] == item[c]
        assert r["confidence"] == pytest.approx(supp / item[a], abs=1e-6)
        assert 0 < r["confidence"] <= 1.0
        assert r["lift"] == pytest.approx(
            supp * n_orders / (item[a] * item[c]), abs=1e-4)


def test_link_prediction_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.graph import (COPURCHASE_MAX_LINES,
                                                 LINKPRED_MAX_NEIGHBORS,
                                                 LINKPRED_TOP_N)

    rows = _fetch(sf_dir, "SELECT DISTINCT l_orderkey, l_partkey "
                          "FROM lineitem")
    baskets = {}
    for o, p in rows:
        baskets.setdefault(o, []).append(p)
    edges = set()
    for ps in baskets.values():
        ps = sorted(ps)[:COPURCHASE_MAX_LINES]
        for x in ps:
            for y in ps:
                if x != y:
                    edges.add((x, y))
    adj = {}
    for s, d in sorted(edges):
        adj.setdefault(s, [])
        if len(adj[s]) < LINKPRED_MAX_NEIGHBORS:
            adj[s].append(d)
    in_nb = {}
    for s, ds in adj.items():
        for d in ds:
            in_nb.setdefault(d, set()).add(s)
    cand = {}
    for s, ds in adj.items():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                k = (a, b) if a < b else (b, a)
                cand[k] = cand.get(k, 0) + 1
    scored = []
    for (a, b), common in cand.items():
        if (a, b) in edges:
            continue
        union = len(in_nb[a]) + len(in_nb[b]) - common
        scored.append((round(common / union, 6), a, b, common))
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = scored[:LINKPRED_TOP_N]
    got = sorted(registry.get("q_graph_link_prediction")
                 .fn(spark, sf_dir).collect(), key=lambda r: r["rank"])
    assert len(got) == len(want)
    for w, r in zip(want, got):
        jac, a, b, common = w
        assert (r["a"], r["b"], r["common"]) == (a, b, common)
        assert r["jaccard"] == pytest.approx(jac, abs=1e-6)
        assert (r["deg_a"], r["deg_b"]) == (len(in_nb[a]), len(in_nb[b]))
        assert r["jaccard"] <= 1.0


def test_readability_matches_naive_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.functions.text import ARI_COLLEGE

    rows = _fetch(sf_dir, "SELECT source, text FROM documents")
    per_src = {}
    for src, text in rows:
        chars = len(text.replace(" ", ""))
        words = len([t for t in text.split(" ") if t])
        sents = len([s for s in text.split(". ") if s])
        if words == 0 or sents == 0:
            continue
        ari = round(4.71 * (chars / words) + 0.5 * (words / sents)
                    - 21.43, 6)
        per_src.setdefault(src, []).append(
            (chars / words, words / sents, ari))
    got = {r["source"]: r for r in
           registry.get("q_text_readability").fn(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, docs in per_src.items():
        r = got[src]
        n = len(docs)
        assert r["n_docs"] == n
        assert r["avg_chars_per_word"] == pytest.approx(
            sum(d[0] for d in docs) / n, abs=1e-5)
        assert r["avg_words_per_sentence"] == pytest.approx(
            sum(d[1] for d in docs) / n, abs=1e-5)
        assert r["avg_ari"] == pytest.approx(
            sum(d[2] for d in docs) / n, abs=1e-5)
        assert r["college_share"] == pytest.approx(
            sum(1 for d in docs if d[2] > ARI_COLLEGE) / n, abs=1e-6)


def test_class_balance_is_exact_and_deterministic(spark, sf_dir):
    import hashlib

    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT lang, doc_id, n_chars FROM documents")
    by_lang = {}
    for lang, did, nc in rows:
        by_lang.setdefault(lang, []).append((did, nc))
    n_keep = min(len(v) for v in by_lang.values())
    got = {r["lang"]: r for r in
           registry.get("q_sample_class_balance").fn(spark, sf_dir)
           .collect()}
    assert set(got) == set(by_lang)
    for lang, docs in by_lang.items():
        kept = sorted(
            docs, key=lambda d: (hashlib.md5(str(d[0]).encode())
                                 .hexdigest(), d[0]))[:n_keep]
        r = got[lang]
        assert r["n_total"] == len(docs)
        assert r["n_kept"] == n_keep  # every class EXACTLY equal
        assert r["kept_id_checksum"] == sum(d for d, _ in kept)
        assert r["kept_chars"] == sum(c for _, c in kept)


def test_stream_anomaly_double_run_and_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.incremental import MERGE_CUTOFF
    from sigma_rx7_spark.streaming.jobs import ANOM_Z

    fn = registry.get("q_stream_anomaly").fn
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    # memory-sink name reuse: a second run in the same session must
    # serve identical rows, not fail or accumulate
    second = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert first == second and first

    rows = _fetch(sf_dir, "SELECT event_type, "
                          "CAST(ts AS TIMESTAMP), value FROM events "
                          "WHERE value IS NOT NULL")
    cutoff = MERGE_CUTOFF
    base = {}
    for et, ts, v in rows:
        if str(ts) < cutoff:
            n, s1, s2 = base.get(et, (0, 0.0, 0.0))
            base[et] = (n + 1, s1 + round(v, 6), s2 + round(v, 6) ** 2)
    stats = {}
    for et, (n, s1, s2) in base.items():
        m = s1 / n
        sd = math.sqrt(max(s2 / n - m * m, 0.0))
        if sd > 0:
            stats[et] = (m, sd)
    want = {}
    for et, ts, v in rows:
        if str(ts) >= cutoff and et in stats:
            m, sd = stats[et]
            az = round(abs((v - m) / sd), 6)
            day = ts.date().isoformat()
            ne, na, mx = want.get((day, et), (0, 0, 0.0))
            want[(day, et)] = (ne + 1, na + (az > ANOM_Z), max(mx, az))
    got = {(r[0].isoformat() if hasattr(r[0], "isoformat") else r[0],
            r[1]): r for r in
           (fn(spark, sf_dir).collect())}
    got = {(str(k[0]), k[1]): v for k, v in got.items()}
    assert set(got) == {(d, e) for d, e in want}
    for (day, et), (ne, na, mx) in want.items():
        r = got[(day, et)]
        assert r["n_events"] == ne and r["n_anomalies"] == na
        assert r["max_abs_z"] == pytest.approx(mx, abs=1e-4)
        assert r["anomaly_rate"] == pytest.approx(na / ne, abs=1e-6)


def test_lsh_plan_matches_naive_model(spark, sf_dir):
    """q_dedup_lsh_plan: every emitted row equals the closed-form
    Charikar/banding math computed naively in Python (same quantization
    points), and exactly one row satisfies the integer log2(N) rule."""
    import math

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.llm.dedup import (COSINE_DUP_THRESHOLD,
                                           LSH_PLAN_LINEAR_FACTOR,
                                           LSH_PLAN_R_MAX, LSH_PLAN_R_MIN)

    n = load(spark, sf_dir, "embeddings").count()
    p = float(round(1.0 - math.acos(COSINE_DUP_THRESHOLD) / math.pi, 9))
    got = {r["bits_per_band"]: r for r in
           registry.get("q_dedup_lsh_plan").fn(spark, sf_dir).collect()}
    assert set(got) == set(range(LSH_PLAN_R_MIN, LSH_PLAN_R_MAX + 1))
    rule_hits = 0
    for r in range(LSH_PLAN_R_MIN, LSH_PLAN_R_MAX + 1):
        pband = float(round(p ** r, 9))
        bands = math.ceil(round(math.log(0.1) / math.log(1.0 - pband), 6))
        row = got[r]
        assert row["bands"] == bands, (r, row["bands"], bands)
        assert row["exp_recall"] == float(
            round(1.0 - (1.0 - pband) ** bands, 6))
        assert row["rand_band_rate"] == 1.0 / (1 << r)
        cands = bands * (n * (n - 1) / 2.0) / (1 << r)
        assert row["exp_random_candidates"] == cands
        assert row["candidates_linear"] == (
            cands <= LSH_PLAN_LINEAR_FACTOR * n)
        assert row["log2n_bits"] == ((1 << r) >= n > (1 << r) // 2)
        rule_hits += int(row["log2n_bits"])
        # planned recall actually clears the target
        assert row["exp_recall"] >= 0.9
    assert rule_hits == 1
