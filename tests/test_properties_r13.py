"""Round-13 property tests: the r12 ADVICE latents (decimal IQR fence,
kappa pe=1 guard, zero-overlap CCF lags) and the LPA broadcast guard."""
from __future__ import annotations

import glob
import shutil

import pyspark.sql.functions as F


def _stage_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string,"
        " value double, props string, ts_s string"
    ).select("event_id", "user_id", "event_type", "value", "props",
             F.col("ts_s").cast("timestamp").alias("ts"))
    tmp = str(tmp_path / "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_lpa_broadcast_flag_equivalent(spark):
    # ADVICE-class latent (VERDICT r12 #5): the label relation is
    # broadcast every round — correct at node-grain, an OOM on a huge
    # node set. broadcast_labels=False must keep the shuffle join with
    # IDENTICAL assignments (the hint changes the plan, never the
    # semantics).
    from sigma_rx7_spark.operators.graph import label_propagation

    # two triangles bridged by one edge, symmetrized
    und = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long")
    hinted = sorted(
        (r["node"], r["lbl"])
        for r in label_propagation(edges, broadcast_labels=True).collect())
    shuffled = sorted(
        (r["node"], r["lbl"])
        for r in label_propagation(edges, broadcast_labels=False).collect())
    assert hinted == shuffled
    assert len(hinted) == 6


def test_kappa_guard_masks_only_agreeing_constant_tables(spark):
    # ADVICE r12 (low): pe = 1 requires prediction and label constant
    # AND agreeing. The constant-but-disagreeing table has pe = 0 and
    # kappa = 0 well defined; the all-positive classifier against
    # varying labels keeps its honest kappa ~ 0.
    from sigma_rx7_spark.llm.pipeline import mcc_kappa_summary

    def kappa_of(tp, fp, fn, tn):
        cm = spark.createDataFrame(
            [(tp, fp, fn, tn)], "tp long, fp long, fn long, tn long")
        return mcc_kappa_summary(cm).collect()[0]["kappa"]

    # all mass in fn: predict all-negative on all-positive labels
    assert kappa_of(0, 0, 5, 0) == 0.0
    # all mass in fp: predict all-positive on all-negative labels
    assert kappa_of(0, 5, 0, 0) == 0.0
    # agreeing constants: pe = 1, kappa genuinely undefined
    assert kappa_of(5, 0, 0, 0) is None
    assert kappa_of(0, 0, 0, 5) is None
    # all-positive classifier, varying labels: defined and ~0
    got = kappa_of(3, 2, 0, 0)
    assert got is not None and abs(got) < 1e-9


def test_cross_corr_emits_zero_overlap_lags(spark, tmp_path):
    # ADVICE r12 (low): a lag whose shifted window overlaps nothing
    # must still emit its row (n_pairs = 0, ccf NULL) instead of
    # silently dropping out of the output and the best-lag ranking.
    from sigma_rx7_spark.operators.timeseries import (
        CCF_MAX_LAG, q_ts_cross_corr)

    # clicks on Jan 1-2, purchases on Feb 1-2: every lag in the +/-7
    # band has zero overlapping day pairs
    rows = [
        (1, 1, "click", 0.0, "{}", "2024-01-01 10:00:00"),
        (2, 1, "click", 0.0, "{}", "2024-01-02 10:00:00"),
        (3, 1, "purchase", 5.0, "{}", "2024-02-01 10:00:00"),
        (4, 1, "purchase", 7.0, "{}", "2024-02-02 10:00:00"),
    ]
    out = q_ts_cross_corr(spark, _stage_events(spark, tmp_path, rows)) \
        .collect()
    assert len(out) == 2 * CCF_MAX_LAG + 1
    assert all(r["n_pairs"] == 0 and r["ccf"] is None for r in out)
    # the ranking still picks exactly one total-order winner (all-NULL
    # ties break to the smallest lag)
    best = [r["lag"] for r in out if r["is_best_lag"]]
    assert best == [-CCF_MAX_LAG]


def test_iqr_fence_division_free_boundary(spark, sf_dir):
    # ADVICE r12 (medium): the fence compare must be divide-free exact
    # decimal on BOTH sides. Cross-check the engine's n_low/n_high on
    # harness data against an independent Python decimal replay.
    from decimal import Decimal

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.quality import q_quality_iqr

    got = {r["segment"]: r for r in q_quality_iqr(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_extendedprice").collect()
    by_seg: dict[str, list] = {}
    for r in li:
        by_seg.setdefault(r["l_returnflag"], []).append(
            Decimal(str(r["l_extendedprice"])))
    import math
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        q1 = vals[math.ceil(0.25 * n) - 1]
        q3 = vals[math.ceil(0.75 * n) - 1]
        iqr3 = 3 * (q3 - q1)
        n_low = sum(1 for v in vals if 2 * (q1 - v) > iqr3)
        n_high = sum(1 for v in vals if 2 * (v - q3) > iqr3)
        assert got[seg]["n_low"] == n_low, seg
        assert got[seg]["n_high"] == n_high, seg


def test_tpch_texts_never_alias_table_tokens():
    # io.sql rewrites bare table tokens into bound DataFrame
    # placeholders; a text that ALSO uses a table name as a column alias
    # gets its output schema mangled (caught live: Q9's "AS nation").
    import re

    from sigma_rx7_spark import io
    from sigma_rx7_spark.operators import tpch

    texts = {k: v for k, v in vars(tpch).items()
             if re.fullmatch(r"_Q\d\d", k)}
    assert len(texts) == 22
    for qname, sql in texts.items():
        for t in (*io.TABLES, "partsupp"):
            assert not re.search(rf"\bAS\s+{t}\b", sql, re.I), (qname, t)


def test_f2_matches_python_counter_replay(spark, sf_dir):
    # A77: naive-model check — F2 per event_type recomputed with a
    # plain Counter; amplification recomputed from the same integers.
    from collections import Counter

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.aggregates import q_agg_f2

    got = {r["event_type"]: r for r in q_agg_f2(spark, sf_dir).collect()}
    rows = load(spark, sf_dir, "events") \
        .select("event_type", "user_id").collect()
    per_type: dict[str, Counter] = {}
    for r in rows:
        per_type.setdefault(r["event_type"], Counter())[r["user_id"]] += 1
    assert set(got) == set(per_type)
    for et, cnt in per_type.items():
        n = sum(cnt.values())
        f2 = sum(c * c for c in cnt.values())
        assert got[et]["n_rows"] == n
        assert got[et]["n_keys"] == len(cnt)
        assert got[et]["self_join_size"] == f2
        amp = f2 * len(cnt) / (n * n)
        assert abs(got[et]["amplification"] - amp) < 1e-5, et
        assert got[et]["amplification"] >= 0.999999  # >= uniform


def test_cvar_matches_decimal_replay(spark, sf_dir):
    # A78: exact VaR rank + tail mean replayed in Python decimal.
    from decimal import Decimal

    import math

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.aggregates import q_agg_cvar

    got = {r["segment"]: r for r in q_agg_cvar(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_extendedprice").collect()
    by_seg: dict[str, list] = {}
    for r in li:
        by_seg.setdefault(r["l_returnflag"], []).append(
            Decimal(str(r["l_extendedprice"])))
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        var = vals[math.ceil(0.95 * n) - 1]
        tail = [v for v in vals if v >= var]
        assert got[seg]["n_rows"] == n
        assert Decimal(str(got[seg]["var95"])) == var
        assert got[seg]["tail_n"] == len(tail)
        cvar = float(sum(tail)) / len(tail)
        assert abs(got[seg]["cvar95"] - cvar) < 1e-6, seg
        # CVaR dominates VaR by construction (tail mean >= its floor)
        assert got[seg]["cvar95"] >= got[seg]["var95"]


def test_mrr_consistent_with_ndcg_candidates(spark, sf_dir):
    # L3x: same candidate relation as NDCG (one-builder discipline),
    # and the per-term outputs are internally consistent.
    from sigma_rx7_spark.functions.text import (
        MRR_K, q_text_mrr, q_text_ndcg)

    mrr = {r["term"]: r for r in q_text_mrr(spark, sf_dir).collect()}
    ndcg = {r["term"]: r for r in q_text_ndcg(spark, sf_dir).collect()}
    assert set(mrr) == set(ndcg)
    for t, r in mrr.items():
        assert r["n_candidates"] == ndcg[t]["n_candidates"], t
        assert r["hit_at_k"] is not None  # never-NULL boolean
        if r["first_rel_pos"] is None:
            assert r["reciprocal_rank"] == 0.0 and not r["hit_at_k"]
        else:
            assert r["n_relevant"] >= 1
            assert abs(r["reciprocal_rank"]
                       - 1.0 / r["first_rel_pos"]) < 1e-6
            assert r["hit_at_k"] == (r["first_rel_pos"] <= MRR_K)


def test_orphan_audit_counts_injected_orphans(spark, sf_dir, tmp_path):
    # Q26: inject two lineitem rows pointing at a nonexistent order and
    # one at a nonexistent part; every other edge stays clean.
    import glob
    import shutil

    from sigma_rx7_spark.io import TABLES, load
    from sigma_rx7_spark.operators.quality import q_quality_orphans

    for t in TABLES:
        if t == "lineitem":
            continue
        shutil.copy(f"{sf_dir}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    li = load(spark, sf_dir, "lineitem")
    base = li.limit(1).collect()[0].asDict()
    crafted = []
    for i, (ok, pk) in enumerate([(10**9, base["l_partkey"]),
                                  (10**9, base["l_partkey"]),
                                  (base["l_orderkey"], 10**9)]):
        row = dict(base)
        row.update(l_orderkey=ok, l_partkey=pk,
                   l_linenumber=900 + i)
        crafted.append(row)
    patched = li.unionByName(spark.createDataFrame(crafted, li.schema))
    stage = str(tmp_path / "_li")
    patched.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "lineitem.parquet"))

    got = {r["edge"]: r
           for r in q_quality_orphans(spark, str(tmp_path)).collect()}
    assert got["lineitem.l_orderkey->orders"]["n_orphans"] == 2
    assert got["lineitem.l_orderkey->orders"]["alert"]
    assert got["lineitem.l_partkey->part"]["n_orphans"] == 1
    assert got["orders.o_custkey->customer"]["n_orphans"] == 0
    assert not got["orders.o_custkey->customer"]["alert"]
    clean = {r["edge"]: r
             for r in q_quality_orphans(spark, sf_dir).collect()}
    assert all(v["n_orphans"] == 0 and not v["alert"]
               for v in clean.values())


def test_pk_audit_counts_injected_duplicates(spark, sf_dir, tmp_path):
    # Q27: duplicate one order row twice -> surplus 2 on orders, the
    # composite lineitem key stays unique, flags stay never-NULL.
    import glob
    import shutil

    from sigma_rx7_spark.io import TABLES, load
    from sigma_rx7_spark.operators.quality import q_quality_pk

    for t in TABLES:
        if t == "orders":
            continue
        shutil.copy(f"{sf_dir}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    o = load(spark, sf_dir, "orders")
    dup = o.limit(1)
    patched = o.unionByName(dup).unionByName(dup)
    stage = str(tmp_path / "_o")
    patched.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "orders.parquet"))

    got = {r["table_name"]: r
           for r in q_quality_pk(spark, str(tmp_path)).collect()}
    assert got["orders"]["n_dup_rows"] == 2
    assert not got["orders"]["is_unique"]
    assert got["orders"]["n_rows"] == got["orders"]["n_keys"] + 2
    clean = {r["table_name"]: r
             for r in q_quality_pk(spark, sf_dir).collect()}
    # the audit's LIVE FINDING: the generator violates lineitem's
    # nominal (l_orderkey, l_linenumber) key — surplus must equal the
    # naive replay, and the flag reports it honestly
    from collections import Counter

    li = load(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_linenumber").collect()
    cnt = Counter((r[0], r[1]) for r in li)
    surplus = sum(c - 1 for c in cnt.values() if c > 1)
    assert clean["lineitem"]["n_dup_rows"] == surplus
    assert clean["lineitem"]["is_unique"] == (surplus == 0)
    # every single-column key passes on clean data
    assert all(v["is_unique"] for t, v in clean.items()
               if t != "lineitem")


def test_radius_matches_python_replay_and_topk(spark, sf_dir):
    # L2o: naive replay of the radius set, plus family consistency —
    # any top-k hit scoring >= tau must appear in the radius set.
    import math

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.llm.similarity import (
        N_QUERIES, RADIUS_TAU, q_sim_radius, q_sim_topk)

    got = {(r["q_id"], r["c_id"]): r["cos_sim"]
           for r in q_sim_radius(spark, sf_dir).collect()}
    vecs = {r["vec_id"]: r["embedding"]
            for r in load(spark, sf_dir, "embeddings").collect()}

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    qs = {i: unit(vecs[i]) for i in vecs if i < N_QUERIES}
    cs = {i: unit(vecs[i]) for i in vecs if i >= N_QUERIES}
    want = {}
    for qi, qv in qs.items():
        for ci, cv in cs.items():
            s = sum(a * b for a, b in zip(qv, cv))
            if s >= RADIUS_TAU - 1e-9:
                want[(qi, ci)] = s
    # float-fold order differs between the replay and the engine, so
    # compare sets with a tolerance band around tau and values loosely
    sure = {k for k, v in want.items() if v >= RADIUS_TAU + 1e-9}
    assert sure <= set(got)
    for k in got:
        assert k in want, k
        assert abs(got[k] - want[k]) < 1e-9
    topk = q_sim_topk(spark, sf_dir).collect()
    for r in topk:
        if r["cos_sim"] >= RADIUS_TAU:
            assert (r["q_id"], r["c_id"]) in got


def test_infogain_matches_python_replay(spark, sf_dir):
    # A79: recompute H(y), H(y|b), IG with plain math on Counters.
    import math
    from collections import Counter

    from sigma_rx7_spark.functions.scoring import (
        IG_BANDS, q_feature_infogain)
    from sigma_rx7_spark.io import load

    lo, mid, hi = IG_BANDS
    rows = load(spark, sf_dir, "documents") \
        .select("n_chars", "source", "lang").collect()

    def band(nc):
        return ("lt%d" % lo if nc < lo else "lt%d" % mid if nc < mid
                else "lt%d" % hi if nc < hi else "ge%d" % hi)

    def ent(p):
        if p <= 0.0 or p >= 1.0:
            return 0.0
        return -(p * math.log(p) + (1 - p) * math.log(1 - p))

    got = {r["feature"]: r
           for r in q_feature_infogain(spark, sf_dir).collect()}
    for fname, key in (("n_chars_band", lambda r: band(r["n_chars"])),
                       ("source", lambda r: r["source"])):
        n_b: Counter = Counter()
        pos_b: Counter = Counter()
        for r in rows:
            b = key(r)
            n_b[b] += 1
            pos_b[b] += 1 if r["lang"] == "en" else 0
        n = sum(n_b.values())
        h = ent(sum(pos_b.values()) / n)
        h_cond = sum((n_b[b] / n) * ent(pos_b[b] / n_b[b]) for b in n_b)
        r = got[fname]
        assert r["n_bands"] == len(n_b)
        assert abs(r["h_label"] - h) < 1e-5, fname
        assert abs(r["h_cond"] - h_cond) < 1e-5, fname
        assert abs(r["info_gain"] - (h - h_cond)) < 1e-5, fname
        assert r["info_gain"] >= -1e-6  # IG is non-negative
