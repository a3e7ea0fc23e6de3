"""Round-11 property tests: every new statistical operator validated
against a naive pure-Python/numpy model (engine parity alone cannot
catch a formula that is wrong identically on both sides — the r8
discipline, continued).
"""

from __future__ import annotations

import math

import duckdb
import numpy as np


def _fetch(sf_dir, sql):
    con = duckdb.connect()
    for t in ("orders", "customer", "supplier", "lineitem", "events",
              "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_kendall_matches_naive_pair_count(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT l_returnflag, l_quantity, l_discount "
                          "FROM lineitem")
    by_g = {}
    for g, x, y in rows:
        by_g.setdefault(g, []).append((float(x), float(y)))
    got = {r["l_returnflag"]: r for r in
           registry.get("q_agg_kendall_tau").fn(spark, sf_dir).collect()}
    for g, pts in by_g.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        dx = np.sign(x[:, None] - x[None, :])
        dy = np.sign(y[:, None] - y[None, :])
        prod = dx * dy
        iu = np.triu_indices(len(pts), k=1)
        conc = int((prod[iu] > 0).sum())
        disc = int((prod[iu] < 0).sum())
        n = len(pts)
        n0 = n * (n - 1) // 2
        n1 = sum(c * (c - 1) // 2
                 for c in np.unique(x, return_counts=True)[1])
        n2 = sum(c * (c - 1) // 2
                 for c in np.unique(y, return_counts=True)[1])
        row = got[g]
        assert row["concordant"] == conc
        assert row["discordant"] == disc
        tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
        assert abs(row["kendall_tau_b"] - tau) < 2e-6


def test_trimmed_mean_matches_naive_sort(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT l_returnflag, l_extendedprice "
                          "FROM lineitem")
    by_g = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(float(x))
    got = {r["l_returnflag"]: r for r in
           registry.get("q_agg_trimmed_mean").fn(spark, sf_dir).collect()}
    for g, xs in by_g.items():
        xs.sort()
        k = len(xs) // 10
        kept = xs[k:len(xs) - k]
        row = got[g]
        assert row["n_rows"] == len(xs)
        assert row["n_kept"] == len(kept)
        assert abs(row["trimmed_mean"] - sum(kept) / len(kept)) < 1e-4


def test_trend_matches_naive_formula(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT user_id % 3,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                   THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id""")
    n = [0, 0, 0]
    r = [0, 0, 0]
    for arm, conv in rows:
        n[arm] += 1
        r[arm] += conv
    nn, rr = sum(n), sum(r)
    p = rr / nn
    t_stat = sum(w * r[w] for w in range(3)) \
        - p * sum(w * n[w] for w in range(3))
    var = p * (1 - p) * (sum(w * w * n[w] for w in range(3))
                         - sum(w * n[w] for w in range(3)) ** 2 / nn)
    got = {row["arm"]: row for row in
           registry.get("q_ab_trend").fn(spark, sf_dir).collect()}
    for arm in range(3):
        assert got[arm]["n_users"] == n[arm]
        assert got[arm]["responders"] == r[arm]
        if var > 0:
            assert abs(got[arm]["z_trend"] - t_stat / math.sqrt(var)) \
                < 2e-6


def test_acf_matches_naive_series(spark, sf_dir):
    from sigma_rx7_spark import registry

    daily = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                 AS day, CAST(SUM(CAST(value AS DECIMAL(20,6)))
                              AS DOUBLE) AS v
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")
    series = {d: v for d, v in daily}
    vals = np.array([v for _, v in daily])
    mean = vals.sum() / len(vals)
    den = (vals * vals).sum() - len(vals) * mean * mean
    got = {r["lag"]: r for r in
           registry.get("q_ts_acf").fn(spark, sf_dir).collect()}
    import datetime
    for lag in range(1, 8):
        pairs = [(v, series[d + datetime.timedelta(days=lag)])
                 for d, v in daily
                 if d + datetime.timedelta(days=lag) in series]
        assert got[lag]["n_pairs"] == len(pairs)
        num = sum(a * b for a, b in pairs) \
            - mean * (sum(a for a, _ in pairs)
                      + sum(b for _, b in pairs)) \
            + len(pairs) * mean * mean
        assert abs(got[lag]["acf"] - num / den) < 1e-4


def test_seasonality_matches_naive(spark, sf_dir):
    from sigma_rx7_spark import registry

    daily = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                 AS day, CAST(SUM(CAST(value AS DECIMAL(20,6)))
                              AS DOUBLE) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1""")
    overall = sum(v for _, v in daily) / len(daily)
    by_dow = {}
    for d, v in daily:
        by_dow.setdefault((d.weekday() + 1) % 7, []).append(v)
    got = {r["dow"]: r for r in
           registry.get("q_ts_seasonality").fn(spark, sf_dir).collect()}
    assert set(got) == set(by_dow)
    for dow, vs in by_dow.items():
        assert got[dow]["n_days"] == len(vs)
        assert abs(got[dow]["seasonal_index"]
                   - (sum(vs) / len(vs)) / overall) < 1e-5


def test_clustering_matches_naive_sets(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.graph import CC_MAX_NEIGHBORS

    edges = _fetch(sf_dir, """
        WITH li AS (
          SELECT o, p FROM (
            SELECT o, p, ROW_NUMBER() OVER (PARTITION BY o ORDER BY p)
                     AS rn
            FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem) d) s
          WHERE rn <= 32)
        SELECT DISTINCT a.p, b.p FROM li a
        JOIN li b ON a.o = b.o AND a.p <> b.p""")
    full = {}
    for s, d in edges:
        full.setdefault(s, set()).add(d)
    capped = {v: set(sorted(ns)[:CC_MAX_NEIGHBORS])
              for v, ns in full.items()}
    got = {r["node"]: r for r in
           registry.get("q_graph_clustering").fn(spark, sf_dir).collect()}
    assert set(got) == set(capped)
    for v, ns in capped.items():
        deg = len(ns)
        closed = sum(1 for a in ns for b in ns
                     if a < b and b in full.get(a, ()))
        row = got[v]
        assert row["degree"] == deg
        assert row["closed_wedges"] == closed
        if deg < 2:
            assert row["clustering_coeff"] is None
        else:
            assert abs(row["clustering_coeff"]
                       - 2.0 * closed / (deg * (deg - 1))) < 2e-6
            assert 0.0 <= row["clustering_coeff"] <= 1.0


def test_assortativity_matches_naive(spark, sf_dir):
    from sigma_rx7_spark import registry

    edges = _fetch(sf_dir, """
        WITH li AS (
          SELECT o, p FROM (
            SELECT o, p, ROW_NUMBER() OVER (PARTITION BY o ORDER BY p)
                     AS rn
            FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem) d) s
          WHERE rn <= 32)
        SELECT DISTINCT a.p, b.p FROM li a
        JOIN li b ON a.o = b.o AND a.p <> b.p""")
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    xs = np.array([deg[s] for s, _ in edges], dtype=float)
    ys = np.array([deg[d] for _, d in edges], dtype=float)
    m = len(edges)
    num = m * (xs * ys).sum() - xs.sum() * ys.sum()
    den = math.sqrt((m * (xs * xs).sum() - xs.sum() ** 2)
                    * (m * (ys * ys).sum() - ys.sum() ** 2))
    [row] = registry.get("q_graph_assortativity").fn(
        spark, sf_dir).collect()
    assert row["n_edges"] == m
    assert abs(row["assortativity"] - num / den) < 2e-6


def test_cvm_matches_naive_pooled_ecdf(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                         < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 0 END
        FROM events""")
    a = sorted(float(v) for v, i in rows if i == 1)
    b = sorted(float(v) for v, i in rows if i == 0)
    na, nb = len(a), len(b)
    pooled = sorted(a + b)
    aa, bb = np.array(a), np.array(b)
    t = 0.0
    for x in pooled:
        fa = np.searchsorted(aa, x, side="right") / na
        fb = np.searchsorted(bb, x, side="right") / nb
        t += (fa - fb) ** 2
    t *= na * nb / (na + nb) ** 2
    [row] = registry.get("q_drift_cvm").fn(spark, sf_dir).collect()
    assert row["n_a"] == na and row["n_b"] == nb
    assert abs(row["cvm_t"] - t) < 1e-6


def test_ml_ks_matches_naive_cdf_gap(spark, sf_dir, quality_scored):
    from sigma_rx7_spark import registry

    scored = quality_scored
    pos = sorted(pp for y, pp in scored if y == 1.0)
    neg = sorted(pp for y, pp in scored if y != 1.0)
    ks = max(abs(np.searchsorted(pos, x, side="right") / len(pos)
                 - np.searchsorted(neg, x, side="right") / len(neg))
             for x in sorted(set(pos + neg)))
    [row] = registry.get("q_ml_ks").fn(spark, sf_dir).collect()
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert abs(row["ks_separation"] - ks) < 1e-9
    assert 0.0 <= row["ks_separation"] <= 1.0


def test_benford_matches_naive_digits(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal

    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT o_orderpriority, o_totalprice FROM orders
        WHERE o_totalprice > 0""")
    segs = {}
    for seg, v in rows:
        d = int(str(Decimal(str(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP))[0])
        segs.setdefault(seg, {}).setdefault(d, 0)
        segs[seg][d] += 1
    got = {r["segment"]: r for r in
           registry.get("q_agg_benford").fn(spark, sf_dir).collect()}
    assert set(got) == set(segs)
    for seg, digits in segs.items():
        n = sum(digits.values())
        chi2 = 0.0
        for d, cnt in digits.items():
            e = float(round(math.log10(1 + 1 / d), 9)) * n
            chi2 += float(round((cnt - e) ** 2 / e, 6))
        row = got[seg]
        assert row["n_orders"] == n
        assert row["n_digits_seen"] == len(digits)
        assert abs(row["chi2"] - chi2) < 1e-4
        assert row["flagged"] == (round(chi2, 6) > 15.507313)


def test_mv_join_maintenance_split_is_nontrivial(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.incremental import (JV_CUST_MOD,
                                                       JV_CUTOFF)
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n_delta_o = o.where(
        F.to_date("o_orderdate") >= F.lit(JV_CUTOFF).cast("date")).count()
    n_delta_c = c.where(
        F.pmod(F.col("c_custkey"), F.lit(JV_CUST_MOD)) == 0).count()
    assert n_delta_o > 0 and n_delta_c > 0  # both deltas exercise
    rows = registry.get("q_mv_join_maintenance").fn(
        spark, sf_dir).collect()
    assert sum(r["n_from_delta"] for r in rows) == n_delta_o
    assert sum(r["n_orders"] for r in rows) == o.count()


def test_bloom_filtered_join_plan_prunes_before_join(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.plans.inspect import formatted_plan

    df = registry.get("q_join_bloom_filtered").fn(spark, sf_dir)
    p = formatted_plan(df)
    # the forall membership filter runs below the join in the tree
    assert "forall" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_knn_classify_matches_naive_vote(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir.replace("documents", "documents"), """
        SELECT vec_id, label, CAST(embedding AS DOUBLE[])
        FROM read_parquet('{}/embeddings.parquet')""".format(sf_dir))
    import numpy as np
    vecs = {vid: np.array(v) / np.linalg.norm(v) for vid, _, v in rows}
    labels = {vid: lab for vid, lab, _ in rows}
    got = {r["q_id"]: r for r in
           registry.get("q_sim_knn_classify").fn(spark, sf_dir).collect()}
    for q in range(5):
        sims = sorted(((float(vecs[q] @ vecs[c]), -c) for c in vecs
                       if c >= 5), reverse=True)
        top = [-c for _, c in sims[:10]]
        votes = {}
        for c in top:
            votes[labels[c]] = votes.get(labels[c], 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert got[q]["pred_label"] == best[0]
        assert got[q]["votes"] == best[1]
        assert abs(got[q]["vote_share"] - best[1] / 10) < 1e-12


def test_score_drift_psi_properties(spark, sf_dir):
    """PSI is symmetric-positive: >= 0 always, ~0 for an id-parity
    split of the same population (both halves drawn from one
    distribution)."""
    from sigma_rx7_spark import registry

    [row] = registry.get("q_ml_score_drift").fn(spark, sf_dir).collect()
    assert row["psi"] is not None and row["psi"] >= 0.0
    assert row["n_a"] > 0 and row["n_b"] > 0


def test_seasonal_strength_bounds_and_consistency(spark, sf_dir):
    from sigma_rx7_spark import registry

    comp = registry.get("q_ts_decompose").fn(spark, sf_dir).collect()
    [row] = registry.get("q_ts_seasonal_strength").fn(
        spark, sf_dir).collect()
    assert row["n_days"] == len(comp)
    import numpy as np
    rev = np.array([r["revenue"] for r in comp])
    tr = np.array([r["trend"] for r in comp])
    se = np.array([r["seasonal"] for r in comp])
    resid = np.array([r["residual"] for r in comp])
    fs = max(0.0, 1 - resid.var() / (rev - tr).var())
    ft = max(0.0, 1 - resid.var() / (rev - se).var())
    assert abs(row["seasonal_strength"] - fs) < 1e-4
    assert abs(row["trend_strength"] - ft) < 1e-4
    assert 0.0 <= row["seasonal_strength"] <= 1.0
    assert 0.0 <= row["trend_strength"] <= 1.0


def test_wilson_matches_naive_and_brackets_rate(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT user_id % 2,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                   THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id""")
    n = [0, 0]
    x = [0, 0]
    for arm, conv in rows:
        n[arm] += 1
        x[arm] += conv
    got = {r["arm"]: r for r in
           registry.get("q_ab_wilson").fn(spark, sf_dir).collect()}
    z = 1.959963985
    for arm in (0, 1):
        ph = x[arm] / n[arm]
        denom = 1 + z * z / n[arm]
        center = ph + z * z / (2 * n[arm])
        half = z * math.sqrt(ph * (1 - ph) / n[arm]
                             + z * z / (4 * n[arm] * n[arm]))
        row = got[arm]
        assert row["n_users"] == n[arm] and row["responders"] == x[arm]
        assert abs(row["wilson_lo"] - (center - half) / denom) < 2e-6
        assert abs(row["wilson_hi"] - (center + half) / denom) < 2e-6
        assert 0.0 <= row["wilson_lo"] <= row["rate"] \
            <= row["wilson_hi"] <= 1.0


def test_langid_audit_counts(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = registry.get("q_text_langid_audit").fn(spark, sf_dir).collect()
    langid = registry.get("q_text_langid").fn(spark, sf_dir).collect()
    by_lang = {}
    for r in langid:
        d = by_lang.setdefault(r["lang"], [0, 0])
        d[0] += 1
        d[1] += int(r["pred_en"])
    for r in rows:
        n, npred = by_lang[r["lang"]]
        assert r["n_docs"] == n and r["n_pred_en"] == npred
        expect = npred if r["lang"] == "en" else n - npred
        assert r["n_correct"] == expect
