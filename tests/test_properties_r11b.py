"""Round-11 session-2 property tests: the new statistical operators
validated against naive pure-Python/numpy models (the r8 discipline —
engine parity alone cannot catch a formula wrong identically on both
sides)."""

from __future__ import annotations

import math

import duckdb
import numpy as np


def _fetch(sf_dir, sql):
    con = duckdb.connect()
    for t in ("orders", "customer", "supplier", "lineitem", "events",
              "documents", "part", "embeddings", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_cmh_matches_naive_stratified_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.aggregates import CMH_HI_VALUE

    rows = _fetch(sf_dir, """
        SELECT c.c_mktsegment, o.o_custkey % 2, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""")
    strata = {}
    for seg, arm, price in rows:
        a, b, c, d = strata.setdefault(seg, [0, 0, 0, 0])
        hi = price > CMH_HI_VALUE
        if arm == 1:
            strata[seg][0 if hi else 1] += 1
        else:
            strata[seg][2 if hi else 3] += 1
    sdev = sv = sad = sbc = 0.0
    for a, b, c, d in strata.values():
        n1, n2, m1 = a + b, c + d, a + c
        nn = a + b + c + d
        if nn <= 1:
            continue
        sdev += a - n1 * m1 / nn
        sv += n1 * n2 * m1 * (nn - m1) / (nn * nn * (nn - 1))
        sad += a * d / nn
        sbc += b * c / nn
    got = registry.get("q_ab_cmh").fn(spark, sf_dir).collect()[0]
    assert got["n_strata"] == len(strata)
    assert abs(got["cmh_chi2"] - sdev * sdev / sv) < 1e-4
    assert abs(got["or_mh"] - sad / sbc) < 1e-4
    assert got["reject_5pct"] == (round(sdev * sdev / sv, 6) > 3.841459)


def test_kruskal_matches_naive_rank_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT l_returnflag, l_quantity FROM lineitem")
    xs = np.array([float(v) for _, v in rows])
    gs = np.array([g for g, _ in rows])
    # naive average ranks over the pooled sample
    order = np.argsort(xs, kind="stable")
    ranks = np.empty(len(xs))
    sorted_x = xs[order]
    i = 0
    while i < len(xs):
        j = i
        while j < len(xs) and sorted_x[j] == sorted_x[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # average of ranks i+1..j
        i = j
    n = len(xs)
    h = 0.0
    for g in np.unique(gs):
        rg = ranks[gs == g]
        h += rg.sum() ** 2 / len(rg)
    h = 12.0 / (n * (n + 1)) * h - 3.0 * (n + 1)
    _, counts = np.unique(xs, return_counts=True)
    tie = 1.0 - (counts.astype(float) ** 3 - counts).sum() / (n**3 - n)
    got = registry.get("q_ab_kruskal").fn(spark, sf_dir).collect()[0]
    assert got["n_rows"] == n
    assert got["n_groups"] == len(np.unique(gs))
    assert abs(got["h_stat"] - h) < 1e-4
    assert abs(got["h_tie_corrected"] - h / tie) < 1e-4


def test_ad_matches_naive_pooled_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import _AD_CUTOFF

    rows = _fetch(sf_dir, f"""
        SELECT value,
               CASE WHEN CAST(ts AS TIMESTAMP)
                    < TIMESTAMP '{_AD_CUTOFF}' THEN 1 ELSE 0 END
        FROM events""")
    xa = sorted(v for v, t in rows if t == 1)
    xb = sorted(v for v, t in rows if t == 0)
    na, nb = len(xa), len(xb)
    nn = na + nb
    vals = sorted(set(v for v, _ in rows))
    cum_a = cum_b = 0.0
    s = 0.0
    from collections import Counter
    ca, cb = Counter(xa), Counter(xb)
    for v in vals:
        lj = ca.get(v, 0) + cb.get(v, 0)
        cum_a += ca.get(v, 0)
        cum_b += cb.get(v, 0)
        bj = cum_a + cum_b
        if bj >= nn:
            continue
        d = nn * cum_a - na * bj
        s += lj * d * d / (bj * (nn - bj))
    ad = (1.0 / na + 1.0 / nb) / nn * s
    got = registry.get("q_drift_ad").fn(spark, sf_dir).collect()[0]
    assert got["n_a"] == na and got["n_b"] == nb
    assert abs(got["ad_stat"] - ad) < 1e-6


def test_ljung_box_matches_naive_acf(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.timeseries import ACF_MAX_LAG

    rows = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               SUM(value)
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")
    days = [r[0] for r in rows]
    v = np.array([float(r[1]) for r in rows])
    n = len(v)
    mean = v.mean()
    den = ((v - mean) ** 2).sum()
    by_day = dict(zip(days, v))
    q = 0.0
    h = 0
    import datetime as dt
    for lag in range(1, ACF_MAX_LAG + 1):
        num = m = 0.0
        for d, x in by_day.items():
            d2 = d + dt.timedelta(days=lag)
            if d2 in by_day:
                num += (x - mean) * (by_day[d2] - mean)
                m += 1
        if m == 0 or den <= 0:
            continue
        h += 1
        rho = round(num / den, 6)  # the op's 6-dp rho grid
        q += rho * rho / (n - lag)
    lb = n * (n + 2.0) * q
    got = registry.get("q_ts_ljung_box").fn(spark, sf_dir).collect()[0]
    assert got["n_days"] == n and got["n_lags"] == h
    assert abs(got["lb_q"] - lb) < 1e-3


def test_theil_sen_matches_naive_all_pairs(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               SUM(CAST(value AS DECIMAL(20,6)))
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")
    days = [(r[0], float(r[1])) for r in rows]
    slopes = []
    for i in range(len(days)):
        for j in range(i + 1, len(days)):
            dd = (days[j][0] - days[i][0]).days
            slopes.append(round((days[j][1] - days[i][1]) / dd, 6))
    slopes.sort()
    m = len(slopes)
    got = registry.get("q_ts_theil_sen").fn(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(days)
    assert got["n_pairs"] == m
    assert abs(got["theil_sen_slope"] - slopes[(m + 1) // 2 - 1]) < 1e-9
    assert abs(got["theil_sen_slope_hi"] - slopes[m // 2]) < 1e-9


def test_mcc_kappa_consistent_with_own_confusion(spark, sf_dir):
    from sigma_rx7_spark import registry

    got = registry.get("q_ml_mcc").fn(spark, sf_dir).collect()[0]
    tp, fp, fn, tn = (float(got[c]) for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    mcc = ((tp * tn - fp * fn)
           / math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)))
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    bacc = 0.5 * (tp / (tp + fn) + tn / (tn + fp))
    assert abs(got["mcc"] - mcc) < 1e-6
    assert abs(got["kappa"] - kappa) < 1e-6
    assert abs(got["balanced_accuracy"] - bacc) < 1e-6
    assert -1.0 <= got["mcc"] <= 1.0 and -1.0 <= got["kappa"] <= 1.0
    # Confusion counts must agree with the already-validated L6g eval
    # (same weights, same threshold) — the counts are not re-derived
    # here, they are cross-checked against the sibling operator.
    eva = registry.get("q_ml_eval").fn(spark, sf_dir).collect()[0]
    assert (got["tp"], got["fp"], got["fn"], got["tn"]) == \
        (eva["tp"], eva["fp"], eva["fn"], eva["tn"])


def test_logloss_properties_and_prior_formula(spark, sf_dir):
    from sigma_rx7_spark import registry

    got = registry.get("q_ml_logloss").fn(spark, sf_dir).collect()[0]
    n, npos = got["n_docs"], got["n_pos"]
    rate = npos / n
    prior = -(rate * round(math.log(rate), 9)
              + (1 - rate) * round(math.log(1 - rate), 9))
    assert abs(got["logloss_prior"] - prior) < 1e-6
    assert got["logloss"] > 0
    # a fitted model must not be worse than the constant predictor by
    # more than noise, and skill must equal 1 - ll/prior exactly
    assert abs(got["skill"] - (1 - got["logloss"] / prior)) < 2e-6


def test_ndcg_matches_naive_ranker(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.functions.text import (
        BM25_B,
        BM25_K1,
        NDCG_K,
        NDCG_REL_CAP,
        NDCG_TERMS,
    )

    docs = _fetch(sf_dir, "SELECT doc_id, text FROM documents")
    toks = {d: [w for w in t.split(" ") if w] for d, t in docs}
    dl = {d: len(ws) for d, ws in toks.items()}
    n_docs = len(docs)
    avgdl = sum(dl.values()) / n_docs
    got = {r["term"]: r for r in
           registry.get("q_text_ndcg").fn(spark, sf_dir).collect()}
    for term in NDCG_TERMS:
        tf = {d: ws.count(term) for d, ws in toks.items()
              if term in ws}
        df = len(tf)
        idf = round(math.log(1 + (n_docs - df + 0.5) / (df + 0.5)), 6)
        scored = {
            d: idf * (t * (BM25_K1 + 1))
            / (t + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl))
            for d, t in tf.items()}
        rel = {d: min(t, NDCG_REL_CAP) for d, t in tf.items()}
        ranking = sorted(scored, key=lambda d: (-round(scored[d], 6), d))
        ideal = sorted(rel, key=lambda d: (-rel[d], d))
        dcg = sum((2 ** rel[d] - 1) / math.log2(p + 2)
                  for p, d in enumerate(ranking[:NDCG_K]))
        idcg = sum((2 ** rel[d] - 1) / math.log2(p + 2)
                   for p, d in enumerate(ideal[:NDCG_K]))
        row = got[term]
        assert row["n_candidates"] == df
        assert abs(row["dcg"] - dcg) < 1e-4
        assert abs(row["idcg"] - idcg) < 1e-4
        assert abs(row["ndcg"] - dcg / idcg) < 1e-4
        assert row["ndcg"] <= 1.0 + 1e-9


def test_modularity_matches_naive_graph(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.graph import COPURCHASE_MAX_LINES

    lines = _fetch(sf_dir, "SELECT DISTINCT l_orderkey, l_partkey "
                           "FROM lineitem ORDER BY 1, 2")
    brand = dict(_fetch(sf_dir, "SELECT p_partkey, p_brand FROM part"))
    orders = {}
    for o, p in lines:
        orders.setdefault(o, []).append(p)
    edges = set()
    for ps in orders.values():
        capped = sorted(ps)[:COPURCHASE_MAX_LINES]
        for i, a in enumerate(capped):
            for b in capped[i + 1:]:
                edges.add((a, b))
    m = len(edges)
    intra, degsum = {}, {}
    for a, b in edges:
        ba, bb = brand[a], brand[b]
        if ba == bb:
            intra[ba] = intra.get(ba, 0) + 1
        degsum[ba] = degsum.get(ba, 0) + 1
        degsum[bb] = degsum.get(bb, 0) + 1
    q = sum(intra.get(c, 0) / m - (d / (2 * m)) ** 2
            for c, d in degsum.items())
    got = registry.get("q_graph_modularity").fn(spark, sf_dir).collect()[0]
    assert got["n_edges"] == m
    assert got["n_communities"] == len(degsum)
    assert abs(got["modularity"] - q) < 1e-5


def test_band_join_matches_naive_all_pairs(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.joins import BAND_EPS_DECI

    parts = _fetch(sf_dir, "SELECT p_partkey, p_type, p_retailprice "
                           "FROM part")
    by_type = {}
    for k, t, pr in parts:
        by_type.setdefault(t, []).append((k, round(pr * 10)))
    got = {r["p_type"]: r for r in
           registry.get("q_join_band").fn(spark, sf_dir).collect()}
    for t, rows in by_type.items():
        pairs = [(abs(pa - pb))
                 for i, (ka, pa) in enumerate(rows)
                 for kb, pb in rows[i + 1:]
                 if abs(pa - pb) <= BAND_EPS_DECI]
        if not pairs:
            assert t not in got
            continue
        row = got[t]
        assert row["n_parts"] == len(rows)
        assert row["n_band_pairs"] == len(pairs)
        assert abs(row["avg_abs_diff"]
                   - sum(pairs) / (10.0 * len(pairs))) < 1e-6


def test_fd_audit_known_dependency_holds(spark, sf_dir):
    from sigma_rx7_spark import registry

    got = {r["fd"]: r for r in
           registry.get("q_quality_fd").fn(spark, sf_dir).collect()}
    # nationkey -> regionkey is an FD by construction in every TPC-H
    # derivative; a violated candidate must report violating keys.
    assert got["nation.n_nationkey->n_regionkey"]["holds"] is True
    for row in got.values():
        assert row["n_pairs"] >= row["n_lhs"]
        assert (row["n_violating_lhs"] == 0) == row["holds"]


def test_pattern_masks_cover_every_row_and_are_canonical(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = registry.get("q_quality_patterns").fn(spark, sf_dir).collect()
    import re
    by_col = {}
    for r in rows:
        by_col.setdefault(r["column_name"], []).append(r)
        # masks contain no raw letter/digit runs the collapse missed
        assert not re.search(r"[0-8]|[b-z]|[B-Z]", r["mask"]), r["mask"]
    for col, rs in by_col.items():
        assert abs(sum(r["share"] for r in rs) - 1.0) < 1e-4
    # the uniform customer-name format must collapse to ONE mask
    assert len(by_col["customer.c_name"]) == 1
    assert by_col["customer.c_name"][0]["mask"] == "Aa#9"


def test_fisher_matches_exact_comb_model(spark, sf_dir):
    from math import comb

    from sigma_rx7_spark import registry

    got = registry.get("q_ab_fisher").fn(spark, sf_dir).collect()[0]
    a, n1, m1, nn = got["a"], got["n1"], got["m1"], got["n_total"]
    p = sum(comb(m1, k) * comb(nn - m1, n1 - k)
            for k in range(a, min(n1, m1) + 1)
            if n1 - k <= nn - m1) / comb(nn, n1)
    assert 0.0 <= got["p_one_sided"] <= 1.0 + 1e-9
    # the in-engine log-factorial route must agree with exact integer
    # combinatorics to the quantization budget (9-dp ln table x ~50
    # summed terms => ~1e-6 relative is the design tolerance)
    assert abs(got["p_one_sided"] - p) < 5e-6


def test_hhi_matches_naive_share_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(20,6)))
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2""")
    by_nation = {}
    for nk, sk, r in rows:
        by_nation.setdefault(nk, []).append(float(r))
    got = {r["s_nationkey"]: r for r in
           registry.get("q_agg_hhi").fn(spark, sf_dir).collect()}
    for nk, revs in by_nation.items():
        t = sum(revs)
        hhi = sum(10000.0 * (r / t) ** 2 for r in revs)
        row = got[nk]
        assert row["n_suppliers"] == len(revs)
        assert abs(row["hhi"] - hhi) < 1e-3
        band = ("high" if round(hhi, 4) > 2500
                else "moderate" if round(hhi, 4) > 1500
                else "unconcentrated")
        assert row["concentration"] == band


def test_hurst_matches_naive_rs_model(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.timeseries import HURST_SCALES

    rows = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               SUM(CAST(value AS DECIMAL(20,6)))
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")
    v = np.array([float(r[1]) for r in rows])
    xs, ys = [], []
    for n in HURST_SCALES:
        rss = []
        for b in range(len(v) // n):
            blk = v[b * n:(b + 1) * n]
            dev = blk - blk.mean()
            cum = dev.cumsum()
            s = np.sqrt((dev ** 2).mean())
            if s > 0:
                rss.append(round((cum.max() - cum.min()) / s, 6))
        if rss:
            xs.append(round(math.log(n), 9))
            ys.append(round(math.log(sum(rss) / len(rss)), 9))
    k = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    got = registry.get("q_ts_hurst").fn(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(v)
    assert got["n_scales"] == k
    assert abs(got["hurst"] - slope) < 1e-3
    assert 0.0 < got["hurst"] < 1.0  # a valid Hurst exponent


def test_silhouette_matches_naive_centroid_model(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir,
                  "SELECT vec_id, label, embedding FROM embeddings")
    import collections
    by_label = collections.defaultdict(list)
    for _, lab, emb in rows:
        by_label[lab].append(np.array(emb, dtype=float))
    cents = {lab: np.mean(np.stack(vs), axis=0)
             for lab, vs in by_label.items()}
    agg = collections.defaultdict(lambda: [0, 0.0, 0])
    for _, lab, emb in rows:
        x = np.array(emb, dtype=float)
        a = np.linalg.norm(x - cents[lab])
        b = min(np.linalg.norm(x - c)
                for l2, c in cents.items() if l2 != lab)
        s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
        e = agg[lab]
        e[0] += 1
        e[1] += s
        e[2] += 1 if s < 0 else 0
    got = {r["label"]: r for r in
           registry.get("q_cluster_silhouette").fn(spark, sf_dir)
           .collect()}
    for lab, (n, ssum, neg) in agg.items():
        row = got[lab]
        assert row["n_vecs"] == n
        assert row["n_negative"] == neg
        assert abs(row["mean_silhouette"] - ssum / n) < 1e-3


def test_checksum_matches_hashlib_model(spark, sf_dir):
    import hashlib

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import (
        CHECKSUM_COLUMNS,
        CHECKSUM_MOD,
    )

    got = {r["column_name"]: r for r in
           registry.get("q_quality_checksum").fn(spark, sf_dir)
           .collect()}
    for tbl, col in CHECKSUM_COLUMNS[:4]:  # four suffice; model is slow
        vals = [r[0] for r in _fetch(sf_dir, f"SELECT {col} FROM {tbl}")]
        cks = sum(
            int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
            for v in vals if v is not None) % CHECKSUM_MOD
        row = got[f"{tbl}.{col}"]
        assert row["n_rows"] == len(vals)
        assert row["n_nulls"] == sum(1 for v in vals if v is None)
        assert row["n_distinct"] == len({v for v in vals
                                         if v is not None})
        assert row["checksum"] == cks


def test_mips_matches_naive_dot_ranking(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.similarity import N_QUERIES, TOP_K

    rows = _fetch(sf_dir, "SELECT vec_id, embedding FROM embeddings")
    vecs = {vid: np.array(e, dtype=float) for vid, e in rows}
    got = {}
    for r in registry.get("q_sim_mips").fn(spark, sf_dir).collect():
        got.setdefault(r["q_id"], []).append(
            (r["rank"], r["c_id"], r["score"]))
    for qid in range(N_QUERIES):
        scores = sorted(
            ((float(np.dot(vecs[qid], v)), cid)
             for cid, v in vecs.items() if cid >= N_QUERIES),
            key=lambda t: (-t[0], t[1]))[:TOP_K]
        mine = sorted(got[qid])
        assert len(mine) == len(scores)
        for (rank, cid, sc), (ns, ncid) in zip(mine, scores):
            assert cid == ncid
            assert abs(sc - ns) < 1e-9


def test_dup_txn_matches_naive_pair_scan(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.quality import (
        DUP_TXN_BUCKET,
        DUP_TXN_WINDOW_MIN,
    )

    rows = _fetch(sf_dir, """
        SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP)
        FROM events WHERE event_type = 'purchase'""")
    import collections
    by_user = collections.defaultdict(list)
    for eid, uid, val, ts in rows:
        by_user[uid].append((eid, val, ts))
    expect = set()
    for uid, evs in by_user.items():
        for i, (ea, va, ta) in enumerate(evs):
            for eb, vb, tb in evs:
                if eb <= ea:
                    continue
                d = (tb - ta).total_seconds()
                if 0 <= d <= DUP_TXN_WINDOW_MIN * 60:
                    expect.add((uid, ea, eb,
                                math.floor(va / DUP_TXN_BUCKET)
                                == math.floor(vb / DUP_TXN_BUCKET)))
    got = {(r["user_id"], r["first_id"], r["next_id"],
            r["same_amount_band"])
           for r in registry.get("q_quality_dup_txn")
           .fn(spark, sf_dir).collect()}
    assert got == expect


def test_ohlc_matches_naive_bars(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, """
        SELECT event_id, CAST(ts AS TIMESTAMP), value
        FROM events WHERE event_type = 'purchase'""")
    import collections
    bars = collections.defaultdict(list)
    for eid, ts, v in rows:
        bars[ts.replace(minute=0, second=0, microsecond=0)].append(
            (ts, eid, v))
    got = {r["hour_start"]: r for r in
           registry.get("q_stream_ohlc").fn(spark, sf_dir).collect()}
    assert len(got) == len(bars)
    for h, evs in bars.items():
        evs.sort()
        row = got[h]
        assert row["open"] == evs[0][2]
        assert row["close"] == evs[-1][2]
        assert row["high"] == max(v for _, _, v in evs)
        assert row["low"] == min(v for _, _, v in evs)
        assert row["n_trades"] == len(evs)


def test_kmv_merge_is_lossless_and_estimates_track_exact(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = registry.get("q_mv_distinct_maintenance") \
        .fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # the mergeability lemma must hold exactly on real data
        assert r["merge_lossless"] is True
        assert r["est_merged"] == r["est_monolithic"]
        # KMV(k=64) relative error should be well inside 3/sqrt(k)
        if r["n_exact"] >= 64:
            rel = abs(r["est_merged"] - r["n_exact"]) / r["n_exact"]
            assert rel < 3.0 / math.sqrt(64)
        else:
            assert r["est_merged"] == float(r["n_exact"])


def test_ewma_chart_matches_naive_recurrence(spark, sf_dir):
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.operators.timeseries import (
        EWMA_CHART_LAMBDA_PCT,
        EWMA_CHART_WIDTH,
    )

    lam = EWMA_CHART_LAMBDA_PCT / 100.0
    rows = _fetch(sf_dir, """
        SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
               SUM(CAST(value AS DECIMAL(20,6)))
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1 ORDER BY 1""")
    v = [float(r[1]) for r in rows]
    n = len(v)
    mu = sum(v) / n
    sd = math.sqrt(sum(x * x for x in v) / n - mu * mu)
    got = {r["day"]: r for r in
           registry.get("q_ts_ewma_chart").fn(spark, sf_dir).collect()}
    assert len(got) == n
    z = mu
    for t, (day, _) in enumerate(rows, start=1):
        z = lam * v[t - 1] + (1 - lam) * z
        half = (EWMA_CHART_WIDTH * sd
                * math.sqrt(lam / (2 - lam) * (1 - (1 - lam) ** (2 * t))))
        row = got[day]
        assert abs(row["ewma"] - z) < 1e-3
        assert abs(row["ucl"] - (mu + half)) < 1e-3
        assert abs(row["lcl"] - (mu - half)) < 1e-3
        assert row["out_of_control"] == (
            round(row["ewma"], 6) > round(row["ucl"], 6)
            or round(row["ewma"], 6) < round(row["lcl"], 6))


def test_jarque_bera_matches_naive_moments(spark, sf_dir):
    from sigma_rx7_spark import registry

    rows = _fetch(sf_dir, "SELECT l_returnflag, l_extendedprice "
                          "FROM lineitem")
    by_g = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(float(x))
    got = {r["l_returnflag"]: r for r in
           registry.get("q_ab_jarque_bera").fn(spark, sf_dir).collect()}
    for g, xs in by_g.items():
        a = np.array(xs)
        m = a.mean()
        c2 = ((a - m) ** 2).mean()
        s = ((a - m) ** 3).mean() / c2 ** 1.5
        k = ((a - m) ** 4).mean() / c2 ** 2 - 3.0
        jb = len(a) / 6.0 * (s * s + k * k / 4.0)
        row = got[g]
        assert row["n_rows"] == len(a)
        assert abs(row["skewness"] - s) < 1e-5
        assert abs(row["excess_kurtosis"] - k) < 1e-4
        assert abs(row["jb_stat"] - jb) < jb * 1e-4 + 1e-3


def test_sentinel_screen_counts_match_naive(spark, sf_dir):
    from sigma_rx7_spark import registry

    got = {(r["column_name"], r["sentinel"]): r for r in
           registry.get("q_quality_sentinels").fn(spark, sf_dir)
           .collect()}
    disc = _fetch(sf_dir, "SELECT COUNT(*), SUM(CASE WHEN l_discount = 0 "
                          "THEN 1 ELSE 0 END) FROM lineitem")[0]
    row = got[("lineitem.l_discount", "l_discount = 0")]
    assert row["n_rows"] == disc[0] and row["n_sentinel"] == disc[1]
    for r in got.values():
        assert r["alert"] == (round(r["n_sentinel"] / r["n_rows"], 6)
                              > 0.05)
