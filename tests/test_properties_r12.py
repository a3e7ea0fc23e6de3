"""Round-12 property tests: naive-model checks for the planner-derived
SRP geometry and the round's guard fixes."""

import math

import pytest

from sigma_rx7_spark.llm.dedup import (
    SRP_PLAN_MISS,
    SRP_PLAN_THRESHOLD,
    srp_planned_geometry,
)


@pytest.mark.parametrize("n", [0, 1, 2, 3, 17, 500, 2000, 20000,
                               10 ** 6, 10 ** 9])
def test_srp_planned_geometry_naive_model(n):
    # Naive re-derivation of the closed forms, independently coded.
    r, bands = srp_planned_geometry(n)
    # r is the smallest integer with 4^r >= max(n, 2).
    assert 4 ** r >= max(n, 2)
    assert r == 1 or 4 ** (r - 1) < max(n, 2)
    # bands holds the recall target at the plan threshold:
    # 1 - (1 - p^r)^bands >= 1 - SRP_PLAN_MISS, and bands is minimal
    # (the closed form is a ceil, so bands-1 must miss the target up to
    # the 6-dp quantization the helper applies before the ceil).
    p = 1.0 - math.acos(SRP_PLAN_THRESHOLD) / math.pi
    recall = 1.0 - (1.0 - p ** r) ** bands
    assert recall >= 1.0 - SRP_PLAN_MISS - 1e-6
    if bands > 1:
        assert 1.0 - (1.0 - p ** r) ** (bands - 1) \
            < 1.0 - SRP_PLAN_MISS + 1e-4


def test_srp_planned_candidates_subquadratic():
    # The whole point of the plan: expected random candidate volume
    # bands * (n choose 2) / 2^r grows strictly SLOWER than n^2 —
    # check the measured growth exponent over three decades stays
    # below 2 (the fixed 8x4 geometry is exactly 2).
    import itertools
    ns = [10 ** 3, 10 ** 4, 10 ** 5, 10 ** 6]
    vols = []
    for n in ns:
        r, bands = srp_planned_geometry(n)
        vols.append(bands * n * (n - 1) / 2 / 2 ** r)
    for (n1, v1), (n2, v2) in itertools.pairwise(zip(ns, vols)):
        exponent = math.log(v2 / v1) / math.log(n2 / n1)
        assert exponent < 1.8, (n1, n2, exponent)


def test_ljung_box_reject_nullable_on_short_series(spark):
    # A 3-day series has fewer surviving lags than ACF_MAX_LAG: the
    # df=7 critical value is wrong there, so reject_5pct must be NULL
    # while lb_q itself still reports.
    import pyspark.sql.functions as F

    from sigma_rx7_spark.operators.timeseries import ACF_EVENT, q_ts_ljung_box

    df = spark.createDataFrame(
        [(i, i, ACF_EVENT, float(10 + (i % 3)), "{}",
          f"2024-01-0{i + 1} 00:00:00") for i in range(3)],
        "event_id long, user_id long, event_type string, value double,"
        " props string, ts_s string",
    ).select("event_id", "user_id", "event_type", "value", "props",
             F.col("ts_s").cast("timestamp").alias("ts"))
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        for t in ("events",):
            df.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
        row = q_ts_ljung_box(spark, d).collect()[0]
    assert row["n_lags"] < 7
    assert row["reject_5pct"] is None


def test_lpa_modularity_beats_brand_partition(spark, sf_dir):
    # The maximization half must beat the evaluation half's reference
    # labeling on its own objective: Q(LPA partition) >= Q(brand
    # partition) on the same co-purchase graph, both scored by an
    # independently-coded naive Python model.
    import collections

    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.operators.graph import (
        copurchase_edges,
        q_graph_communities,
    )

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    und = sorted({(a, b) for a, b in
                  ((r["src"], r["dst"]) for r in edges.collect())
                  if a < b})
    m = len(und)
    assert m > 0

    def q_of(lab):
        ec = collections.Counter()
        dc = collections.Counter()
        for a, b in und:
            if lab[a] == lab[b]:
                ec[lab[a]] += 1
            dc[lab[a]] += 1
            dc[lab[b]] += 1
        return sum(ec.get(c, 0) / m - (dc[c] / (2 * m)) ** 2 for c in dc)

    lpa = {r["node"]: r["community"]
           for r in q_graph_communities(spark, sf_dir).collect()}
    brand = {r["p_partkey"]: r["p_brand"]
             for r in load_table(spark, sf_dir, "part")
             .select("p_partkey", "p_brand").collect()}
    assert q_of(lpa) >= q_of(brand) - 1e-12


def _daily_series(spark, sf_dir, event):
    import pyspark.sql.functions as F

    from sigma_rx7_spark.io import load as load_table
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == event)
    rows = (e.groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                      .alias("day"))
            .agg(F.sum("value").alias("v"),
                 F.count(F.lit(1)).alias("c"))
            .collect())
    return sorted((r["day"], float(r["v"]), int(r["c"])) for r in rows)


def test_periodogram_naive_model(spark, sf_dir):
    # Independent numpy DFT-power model (no quantization): the gated
    # values must track it to well under the quantization noise, and
    # the dominant flag must pick the same period.
    import math

    from sigma_rx7_spark.operators.timeseries import q_ts_periodogram

    daily = _daily_series(spark, sf_dir, "purchase")
    d0 = daily[0][0]
    vs = [(int((d - d0).days), v) for d, v, _ in daily]
    vbar = sum(v for _, v in vs) / len(vs)
    got = {r["period"]: r for r in q_ts_periodogram(spark, sf_dir).collect()}
    best = None
    for P in range(2, 15):
        C = sum((v - vbar) * math.cos(2 * math.pi * (t % P) / P)
                for t, v in vs)
        S = sum((v - vbar) * math.sin(2 * math.pi * (t % P) / P)
                for t, v in vs)
        power = C * C + S * S
        rel = abs(got[P]["power"] - power) / max(power, 1.0)
        assert rel < 1e-6, (P, got[P]["power"], power)
        if best is None or power > best[1] + 1e-9:
            best = (P, power)
    assert got[best[0]]["is_dominant"]


def test_cross_corr_naive_model(spark, sf_dir):
    # Independent CCF model: full-series moments, per-lag overlap sums.
    import math

    from sigma_rx7_spark.operators.timeseries import q_ts_cross_corr

    dv = {d: v for d, v, _ in _daily_series(spark, sf_dir, "purchase")}
    dc = {d: c for d, _, c in _daily_series(spark, sf_dir, "click")}
    nv, nc = len(dv), len(dc)
    mv = sum(dv.values()) / nv
    mc = sum(dc.values()) / nc
    ssv = sum((v - mv) ** 2 for v in dv.values())
    ssc = sum((c - mc) ** 2 for c in dc.values())
    den = math.sqrt(ssv * ssc)
    got = {r["lag"]: r for r in q_ts_cross_corr(spark, sf_dir).collect()}
    import datetime
    for lag in range(-7, 8):
        num = sum((c - mc) * (dv[d + datetime.timedelta(days=lag)] - mv)
                  for d, c in dc.items()
                  if d + datetime.timedelta(days=lag) in dv)
        want = num / den
        assert abs(got[lag]["ccf"] - want) < 1e-4, (lag, got[lag]["ccf"],
                                                    want)


def test_neyman_allocation_naive_model(spark, sf_dir):
    # Quotas sum to the budget exactly and match a naive Neyman +
    # largest-remainder model within rounding.
    import math

    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.llm.sampling import NEYMAN_BUDGET, q_sample_neyman

    rows = q_sample_neyman(spark, sf_dir).collect()
    assert sum(r["alloc"] for r in rows) == NEYMAN_BUDGET
    data = (load_table(spark, sf_dir, "orders")
            .select("o_orderpriority", "o_totalprice").collect())
    import collections
    vals = collections.defaultdict(list)
    for r in data:
        vals[r["o_orderpriority"]].append(float(r["o_totalprice"]))
    w = {}
    for k, v in vals.items():
        n = len(v)
        m = sum(v) / n
        sd = math.sqrt(sum((x - m) ** 2 for x in v) / (n - 1)) \
            if n > 1 else 0.0
        w[k] = n * sd
    tw = sum(w.values())
    for r in rows:
        ideal = w[r["stratum"]] / tw * NEYMAN_BUDGET
        assert abs(r["alloc"] - ideal) <= 1.0 + 1e-6, (r, ideal)


def test_iqr_fences_naive_model(spark, sf_dir):
    # Quartiles equal the k-th smallest (k = ceil(p n)) and the outlier
    # counts match a naive fence scan.
    import math

    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.operators.quality import q_quality_iqr

    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_returnflag", "l_extendedprice").collect())
    import collections
    seg = collections.defaultdict(list)
    for r in li:
        seg[r["l_returnflag"]].append(float(r["l_extendedprice"]))
    for r in q_quality_iqr(spark, sf_dir).collect():
        v = sorted(seg[r["segment"]])
        n = len(v)
        q1 = v[math.ceil(0.25 * n) - 1]
        q3 = v[math.ceil(0.75 * n) - 1]
        assert abs(r["q1"] - q1) < 1e-9 and abs(r["q3"] - q3) < 1e-9
        lo = q1 - 1.5 * (q3 - q1)
        hi = q3 + 1.5 * (q3 - q1)
        assert r["n_low"] == sum(1 for x in v if x < lo)
        assert r["n_high"] == sum(1 for x in v if x > hi)


def test_simpson_reversal_flag_naive(spark, sf_dir):
    # The reversal flag matches a naive per-segment sign comparison.
    from sigma_rx7_spark.operators.aggregates import q_agg_simpson

    rows = {r["segment"]: r for r in q_agg_simpson(spark, sf_dir).collect()}
    pooled = rows["(pooled)"]
    assert pooled["reversed"] is False
    for seg, r in rows.items():
        if seg == "(pooled)":
            continue
        if r["diff"] is None or pooled["diff"] is None:
            assert r["reversed"] is False
        else:
            want = (r["diff"] > 0 > pooled["diff"]) \
                or (r["diff"] < 0 < pooled["diff"])
            assert r["reversed"] == want


def test_minhash_error_naive_model(spark, sf_dir):
    # The estimate is agreement/k and exact Jaccard matches a naive
    # set model on every audited pair; the mean error respects ~3x the
    # theoretical sd bound sqrt(J(1-J)/k) <= 0.125 on average.
    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.llm.dedup import MD5_MINHASH_K, q_dedup_minhash_error

    docs = {r["doc_id"]: set(x for x in r["text"].split(" ") if x)
            for r in load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").collect()}
    rows = q_dedup_minhash_error(spark, sf_dir).collect()
    assert rows, "banded candidates must exist on the harness corpus"
    errs = []
    for r in rows:
        wa, wb = docs[r["a_doc_id"]], docs[r["b_doc_id"]]
        inter = len(wa & wb)
        union = max(len(wa | wb), 1)
        assert abs(r["jaccard_exact"] - inter / union) < 1e-12
        assert r["jaccard_est"] == r["n_agree"] / MD5_MINHASH_K
        errs.append(r["abs_err"])
    assert sum(errs) / len(errs) <= 3 * 0.125


def test_operating_point_dominates_sweep(spark, sf_dir):
    # Each chosen point's criterion value is the max over the full
    # distinct-score sweep (re-derived from labels/scores naively).
    from sigma_rx7_spark.llm.pipeline import (
        q_ml_operating_point,
        q_ml_pr_curve,
    )

    curve = q_ml_pr_curve(spark, sf_dir).collect()
    best_f1 = max((r["f1"] for r in curve if r["f1"] is not None),
                  default=None)
    picks = {r["criterion"]: r
             for r in q_ml_operating_point(spark, sf_dir).collect()}
    assert picks["max_f1"]["f1"] == best_f1
    j = picks["max_youden"]
    # Youden from its own confusion counts is internally consistent
    tpr = j["tp"] / (j["tp"] + j["fn"])
    fpr = j["fp"] / (j["fp"] + j["tn"])
    assert abs(j["youden_j"] - round(tpr - fpr, 6)) < 2e-6


def test_range_bin_join_naive_model(spark, sf_dir):
    # The binned plan equals a naive per-customer window scan.
    import collections

    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.operators.joins import (
        REPEAT_WINDOW_DAYS,
        q_join_range_bin,
    )

    orders = (load_table(spark, sf_dir, "orders")
              .select("o_custkey", "o_orderdate").collect())
    by_cust = collections.defaultdict(list)
    for r in orders:
        by_cust[r["o_custkey"]].append(r["o_orderdate"])
    want = collections.Counter()
    for k, dates in by_cust.items():
        dates = sorted(d.date() if hasattr(d, "date") else d
                       for d in dates)
        for i, da in enumerate(dates):
            for db in dates[i + 1:]:
                gap = (db - da).days
                if 0 < gap <= REPEAT_WINDOW_DAYS:
                    want[da.replace(day=1)] += 1
    got = {r["month"]: r["n_pairs"]
           for r in q_join_range_bin(spark, sf_dir).collect()}
    assert got == dict(want)


def test_stream_funnel_replays_across_arrow_chunks(spark, tmp_path):
    # ADVICE r11 (medium): one key's batch can arrive split across
    # several Arrow chunks in arbitrary order. Force 1-row chunks and
    # feed the funnel a user whose events are stored purchase-first:
    # per-chunk sorting would replay purchase before view (stage 1);
    # the whole-batch concat+sort must reach stage 3.
    import glob
    import shutil

    import pyspark.sql.functions as F

    from sigma_rx7_spark.streaming.stateful import q_stream_funnel

    rows = [
        # stored in REVERSE event-time order
        (3, 7, "purchase", 30.0, "{}", "2024-01-01 02:00:00"),
        (2, 7, "click", 0.0, "{}", "2024-01-01 01:00:00"),
        (1, 7, "view", 0.0, "{}", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string,"
        " value double, props string, ts_s string"
    ).select("event_id", "user_id", "event_type", "value", "props",
             F.col("ts_s").cast("timestamp").alias("ts"))
    tmp = str(tmp_path / "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        out = {r["stage_reached"]: r["n_users"]
               for r in q_stream_funnel(spark, str(tmp_path)).collect()}
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert out == {3: 1}, out


def test_stream_hourly_distinct_collapses_duplicates(spark, tmp_path):
    # ADVICE r11 (medium): the dedup must both evict state at the
    # watermark (dropDuplicatesWithinWatermark) AND still collapse
    # same-hour duplicates exactly. Feed one user purchasing twice in
    # the same hour and once in the next: expect counts 1 and 1.
    import glob
    import shutil

    import pyspark.sql.functions as F

    from sigma_rx7_spark.streaming.jobs import q_stream_hourly_distinct

    rows = [
        (1, 7, "purchase", 1.0, "{}", "2024-01-01 10:05:00"),
        (2, 7, "purchase", 2.0, "{}", "2024-01-01 10:55:00"),  # dup hour
        (3, 7, "purchase", 3.0, "{}", "2024-01-01 11:05:00"),
        (4, 8, "click", 1.0, "{}", "2024-01-01 10:10:00"),  # not counted
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string,"
        " value double, props string, ts_s string"
    ).select("event_id", "user_id", "event_type", "value", "props",
             F.col("ts_s").cast("timestamp").alias("ts"))
    tmp = str(tmp_path / "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, str(tmp_path / "events.parquet"))
    out = {str(r["hour_start"]): r["n_users"]
           for r in q_stream_hourly_distinct(spark, str(tmp_path))
           .collect()}
    assert out == {"2024-01-01 10:00:00": 1, "2024-01-01 11:00:00": 1}, out


def test_neyman_all_degenerate_strata_null_plan(spark, tmp_path):
    # Every stratum zero-variance (constant prices): the weight total
    # is 0 and the plan is undefined — typed NULL rows, not an ANSI
    # DIVIDE_BY_ZERO (caught as a real crash on first probe, r12).
    import pyspark.sql.functions as F

    from sigma_rx7_spark.llm.sampling import q_sample_neyman

    df = spark.createDataFrame(
        [(i, i % 3, "P", 100.0, f"{i % 5 + 1}-X", "1995-01-01",
          "c", 0, "x") for i in range(20)],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderpriority string,"
        " o_orderdate_s string, o_clerk string, o_shippriority int,"
        " o_comment string"
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderpriority",
             F.col("o_orderdate_s").cast("date").alias("o_orderdate"),
             "o_clerk", "o_shippriority", "o_comment")
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = q_sample_neyman(spark, str(tmp_path)).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["sigma"] == 0.0
        assert r["ideal"] is None and r["alloc"] is None
        assert r["exceeds_stratum"] is None


def test_lpa_assignments_match_naive_model(spark, sf_dir):
    # Full independent replay of the synchronous LPA semantics
    # (self-vote, plurality, smallest-label ties, 3 rounds) in plain
    # Python — catches a both-sides-wrong vote rule the oracle mirror
    # cannot (engine and oracle share the round structure).
    import collections

    from sigma_rx7_spark.io import load as load_table
    from sigma_rx7_spark.operators.graph import (
        LP_ITERS,
        copurchase_edges,
        q_graph_communities,
    )

    edges = [(r["src"], r["dst"]) for r in
             copurchase_edges(load_table(spark, sf_dir, "lineitem"))
             .collect()]
    nodes = sorted({a for a, _ in edges})
    inbound = collections.defaultdict(list)
    for a, b in edges:
        inbound[b].append(a)
    lab = {v: v for v in nodes}
    for _ in range(LP_ITERS):
        new = {}
        for v in nodes:
            cnt = collections.Counter(lab[u] for u in inbound[v])
            cnt[lab[v]] += 1
            new[v] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = new
    got = {r["node"]: r["community"]
           for r in q_graph_communities(spark, sf_dir).collect()}
    assert got == lab
