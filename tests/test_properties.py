"""Property-based tests (SURVEY.md §5.4) for the hand-built operators —
the two joins with no single Spark primitive and the scoring expression.

Strategy: hypothesis generates small adversarial inputs (duplicate
timestamps, equal ids, boundary gaps exactly at the window edge); each
property is checked against an independent pure-Python model. Example
counts are kept small because every example is a real Spark job.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sigma_rx7_spark.functions.scoring import logistic_score
from sigma_rx7_spark.operators.interval import asof_join, interval_self_join

SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow,
                           HealthCheck.function_scoped_fixture],
)

ROW = st.tuples(
    st.integers(0, 2),          # key
    st.integers(-5, 5),         # ts (small => boundary collisions likely)
    st.integers(0, 9),          # id
)

EVENT_SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType()),
    T.StructField("ts", T.LongType()),
    T.StructField("id", T.IntegerType()),
])

WINDOW = 2


@given(rows=st.lists(ROW, max_size=14, unique_by=lambda r: r[2]))
@SETTINGS
def test_interval_join_matches_naive_model(spark, rows):
    df = spark.createDataFrame(
        [(k, t, i) for k, t, i in rows], EVENT_SCHEMA)
    got = {
        (r["_a_id"], r["_b_id"])
        for r in interval_self_join(
            df, key="k", ts_us="ts", id_col="id", window_us=WINDOW
        ).collect()
    }
    want = {
        (a[2], b[2])
        for a in rows for b in rows
        if a[0] == b[0] and a[2] < b[2] and abs(a[1] - b[1]) <= WINDOW
    }
    assert got == want
    # irreflexive + canonical orientation (a < b) => no symmetric dupes
    assert all(a < b for a, b in got)


@given(
    lefts=st.lists(st.tuples(st.integers(0, 2), st.integers(-5, 5)),
                   max_size=8),
    rights=st.lists(st.tuples(st.integers(0, 2), st.integers(-5, 5)),
                    max_size=8, unique=True),
)
@SETTINGS
def test_asof_join_matches_naive_model(spark, lefts, rights):
    lschema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("lts", T.LongType()),
        T.StructField("lid", T.IntegerType()),
    ])
    rschema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("rts", T.LongType()),
        T.StructField("payload", T.LongType()),
    ])
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], lschema)
    # rights unique per (k, ts) by construction (unique=True on tuples)
    rdf = spark.createDataFrame(
        [(k, t, 100 + t) for k, t in rights], rschema)
    got = {
        r["lid"]: r["payload"]
        for r in asof_join(ldf, rdf, key="k", left_ts="lts",
                           right_ts="rts",
                           right_payload=("payload",)).collect()
    }
    want = {}
    for i, (k, t) in enumerate(lefts):
        cands = [rt for rk, rt in rights if rk == k and rt <= t]
        want[i] = (100 + max(cands)) if cands else None
    assert got == want


@given(
    price=st.floats(0, 1000, allow_nan=False),
    bump=st.floats(0.1, 100, allow_nan=False),
    tier=st.integers(1, 5),
)
@SETTINGS
def test_logistic_score_monotone_and_bounded(spark, price, bump, tier):
    df = spark.createDataFrame(
        [(float(price), float(price + bump), int(tier))],
        "p1 double, p2 double, tier int")
    row = df.select(
        logistic_score(F.col("p1"), F.col("tier"), F.lit(False)).alias("s1"),
        logistic_score(F.col("p2"), F.col("tier"), F.lit(False)).alias("s2"),
        logistic_score(F.col("p1"), F.col("tier"), F.lit(True)).alias("s_pa"),
    ).collect()[0]
    assert 0.0 < row["s1"] < 1.0
    # monotone in price and in the prior-auth flag (weights are positive)
    assert row["s2"] >= row["s1"]
    assert row["s_pa"] > row["s1"]


@given(
    lefts=st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                             st.integers(0, 100)), max_size=12),
    rights=st.lists(st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                              st.integers(0, 100)), max_size=6),
    how=st.sampled_from(["inner", "left"]),
)
@SETTINGS
def test_salted_join_equals_plain_join(spark, lefts, rights, how):
    from sigma_rx7_spark.operators.joins import salted_join

    ldf = spark.createDataFrame(
        [(k, v) for k, v in lefts], "k int, lv int")
    rdf = spark.createDataFrame(
        [(k, v) for k, v in rights], "k int, rv int")
    got = sorted(
        (tuple(r) for r in
         salted_join(ldf, rdf, "k", n_salt=4, how=how)
         .select("k", "lv", "rv").collect()), key=repr
    )
    want = sorted(
        (tuple(r) for r in
         ldf.join(rdf, "k", how).select("k", "lv", "rv").collect()),
        key=repr
    )
    assert got == want


@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=50,
                unique=True))
@SETTINGS
def test_uniform_unit_hash_in_range_and_deterministic(spark, keys):
    # The Knuth-hash gate behind mixture sampling must land in [0, 1),
    # be a pure function of the key, and not collapse distinct keys to
    # one value (sanity against a broken modulus).
    from sigma_rx7_spark.llm.sampling import uniform_unit

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = df.select(uniform_unit(F.col("k")).alias("u")).collect()
    again = df.select(uniform_unit(F.col("k")).alias("u")).collect()
    assert out == again
    assert all(0.0 <= r["u"] < 1.0 for r in out)
    if len(keys) > 10:
        assert len({r["u"] for r in out}) > 1


def test_quantize_error_bounded_by_half_step(spark, sf_dir):
    # Int8 reconstruction error can never exceed half a quantization
    # step: |x - deq(x)| <= scale/2 (+1 ulp slack). This is the
    # correctness bound that makes the audit columns meaningful.
    from sigma_rx7_spark.registry import load_all

    rows = load_all()["q_embed_quantize"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 * (1 + 1e-9), r


def test_funnel_stages_partition_viewers(spark, sf_dir):
    # Every user with a view lands in exactly one stage bucket: the
    # stage counts must sum to the distinct-viewer count, and each
    # deeper stage only loses users.
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.registry import load_all

    rows = load_all()["q_funnel_steps"].fn(spark, sf_dir).collect()
    by_stage = {r["stage_reached"]: r["n_users"] for r in rows}
    ev = load(spark, sf_dir, "events")
    n_viewers = (ev.where(F.col("event_type") == "view")
                 .select("user_id").distinct().count())
    assert sum(by_stage.values()) == n_viewers


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=24),
                min_size=1, max_size=6))
@SETTINGS
def test_shingles_match_python_model(spark, texts):
    # The n-word shingle construction behind MinHash/LSH/contamination
    # must agree with a direct Python model, including the degenerate
    # cases (empty text, fewer tokens than the shingle width).
    from sigma_rx7_spark.llm.dedup import SHINGLE_N, _shingles

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")
    got = {r["doc_id"]: sorted(r["s"]) for r in
           df.select("doc_id", _shingles().alias("s")).collect()}
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        n_idx = max(len(toks) - SHINGLE_N, 0) + 1
        model = sorted({" ".join(toks[j:j + SHINGLE_N])
                        for j in range(n_idx)})
        assert got[i] == model, (t, got[i], model)


def test_ivf_oracle_staging_is_sf_keyed(spark, sf_dir):
    # The staged oracle centroids are keyed by sf_dir and the oracle
    # SQL is resolved per sf at retrieval time, so concurrent sessions
    # at different scale factors stage — and read — disjoint artifacts
    # (the r8 cross-sf clobber). The staged path must exist after a
    # run, be distinct across sfs, and appear verbatim in that sf's
    # resolved oracle.
    import os

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.staging import path as staged_path

    spec = registry.load_all()["q_sim_topk_ivf"]
    spec.fn(spark, sf_dir).collect()
    path = staged_path("ivf_centroids", sf_dir)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert path in spec.oracle_for(sf_dir)
    other = staged_path("ivf_centroids", "/data/sf0.42")
    assert other != path
    assert other in spec.oracle_for("/data/sf0.42")


def test_pack_assignment_invariants(spark, sf_dir):
    # Context packing must tile each shard's digest-ordered token stream
    # exactly: starts are the exclusive cumsum (no gaps, no overlap),
    # every doc lands in the pack its first token falls in, and pack
    # ids never collide across shards.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.pipeline import PACK_CTX

    rows = (registry.load_all()["q_pipeline_pack"].fn(spark, sf_dir)
            .collect())
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 16
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["start_tok"])
        expect = 0
        for r in docs:
            assert r["start_tok"] == expect, (shard, r)
            assert r["pack_id"] == shard * 1_000_000 \
                + r["start_tok"] // PACK_CTX
            expect += r["n_tokens"]


def test_power_iteration_finds_dominant_eigenpair(spark, sf_dir):
    # The PCA step over the covariance relation: A v must align with
    # lambda v (small relative residual), lambda must dominate the
    # average diagonal (it is the max variance direction), and the
    # result must be deterministic across calls.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.clustering import (
        EMB_DIM,
        dominant_eigenvector,
    )

    rows = registry.load_all()["q_embed_cov"].fn(spark, sf_dir).collect()
    v, lam = dominant_eigenvector(rows)
    v2, lam2 = dominant_eigenvector(rows)
    assert (v, lam) == (v2, lam2)
    assert lam > 0
    m = [[0.0] * EMB_DIM for _ in range(EMB_DIM)]
    for r in rows:
        m[r["i"]][r["j"]] = r["cov"]
        m[r["j"]][r["i"]] = r["cov"]
    av = [sum(m[i][k] * v[k] for k in range(EMB_DIM))
          for i in range(EMB_DIM)]
    resid = sum((av[i] - lam * v[i]) ** 2 for i in range(EMB_DIM)) ** 0.5
    assert resid / lam < 1e-5, (resid, lam)
    mean_diag = sum(m[i][i] for i in range(EMB_DIM)) / EMB_DIM
    assert lam >= mean_diag


def test_chunk_tiling_invariants(spark, sf_dir):
    # Chunking must tile every document exactly: chunk 0 starts at 0,
    # consecutive starts advance by the stride, every chunk except the
    # last is full-width, the last chunk reaches the document end, and
    # one extra chunk would start past the end (no dropped tail).
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.pipeline import CHUNK_CHARS, CHUNK_STRIDE

    rows = (registry.load_all()["q_pipeline_chunk"].fn(spark, sf_dir)
            .collect())
    doc_len = {r["doc_id"]: r["n_chars"] for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(doc_len)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n = doc_len[doc_id]
        for i, c in enumerate(chunks):
            assert c["chunk_idx"] == i
            assert c["start_char"] == i * CHUNK_STRIDE
            assert c["chunk_len"] == len(c["chunk_text"])
            if i < len(chunks) - 1:
                assert c["chunk_len"] == CHUNK_CHARS
        last = chunks[-1]
        assert last["start_char"] + last["chunk_len"] == n
        if len(chunks) > 1:
            # one more chunk would start at or past the end
            assert len(chunks[-1:]) and len(chunks) == 1 + (
                (n - CHUNK_CHARS + CHUNK_STRIDE - 1) // CHUNK_STRIDE)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.integers(0, 2),            # patient
              st.integers(0, 20),           # start day offset
              st.one_of(st.none(), st.integers(0, 15))),  # duration|open
    min_size=1, max_size=12))
def test_polypharmacy_matches_daily_scan(spark, meds_spec):
    # Sweep-line max concurrency must equal the brute-force "count
    # active meds on every day" maximum (inclusive endpoints).
    import datetime as dt

    from sigma_rx7_spark.domain.rules import polypharmacy

    epoch = dt.date(2023, 1, 1)
    rows = []
    for mid, (pid, s_off, dur) in enumerate(meds_spec):
        start = epoch + dt.timedelta(days=s_off)
        stop = None if dur is None else start + dt.timedelta(days=dur)
        rows.append((mid, pid, start, stop))
    meds = spark.createDataFrame(
        rows, "med_id long, patient_id long, start_date date, "
              "stop_date date")
    got = {r["patient_id"]: r["max_concurrent"]
           for r in polypharmacy(meds).collect()}
    horizon = [epoch + dt.timedelta(days=d) for d in range(0, 40)]
    want = {}
    for pid in {r[1] for r in rows}:
        best = 0
        for day in horizon:
            n = sum(1 for (m, p, s, e) in rows
                    if p == pid and s <= day and (e is None or day <= e))
            best = max(best, n)
        want[pid] = best
    assert got == want


def test_interp_bounded_by_neighbors(spark, sf_dir):
    # Interpolated values must lie within [min, max] of the two
    # neighbors (convexity), observed rows keep their own value, and
    # 6-dp quantization is the only allowed deviation.
    from pyspark.sql import functions as F

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.io import load

    out = registry.load_all()["q_interp_linear"].fn(spark, sf_dir)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    j = out.join(ev, "event_id")
    observed = j.where(~F.col("was_missing"))
    bad = observed.where(
        F.abs(F.col("value_interp") - F.col("value")) > 5e-7).count()
    assert bad == 0
    # masked rows: reconstruct neighbor bounds via the same window
    from pyspark.sql import Window

    w_all = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    obs_v = F.when(~F.col("was_missing"), F.col("value_interp"))
    prev_v = F.last(obs_v, ignorenulls=True).over(
        w_all.rowsBetween(Window.unboundedPreceding, -1))
    next_v = F.first(obs_v, ignorenulls=True).over(
        w_all.rowsBetween(1, Window.unboundedFollowing))
    masked = (
        j.select("user_id", "ts_us", "event_id", "was_missing",
                 "value_interp", prev_v.alias("pv"), next_v.alias("nv"))
        .where(F.col("was_missing") & F.col("pv").isNotNull()
               & F.col("nv").isNotNull())
    )
    out_of_bounds = masked.where(
        (F.col("value_interp") < F.least("pv", "nv") - 5e-7)
        | (F.col("value_interp") > F.greatest("pv", "nv") + 5e-7)).count()
    assert out_of_bounds == 0
    assert masked.count() > 0


def test_containment_detects_subset_pairs(spark):
    # A doc fully embedded in a larger doc must be found with
    # containment 1.0 on the smaller side even though its Jaccard is
    # far below the near-dup threshold — the exact case symmetric
    # Jaccard dedup misses, and the reason candidate generation is
    # rare-shingle blocking (an LSH-banded variant of this test was
    # tried first and missed the pair: minhash collision prob ==
    # jaccard == 0.19 here).
    import os
    import tempfile

    from sigma_rx7_spark import registry

    small = " ".join(f"tok{i}" for i in range(40))
    big = small + " " + " ".join(f"extra{i}" for i in range(160))
    other = " ".join(f"noise{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, small, "en", "s", len(small)),
         (2, big, "en", "s", len(big)),
         (3, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    with tempfile.TemporaryDirectory(dir="/root/repo/.staging") as td:
        docs.write.mode("overwrite").parquet(
            os.path.join(td, "documents.parquet"))
        out = (registry.load_all()["q_dedup_containment"]
               .fn(spark, td).collect())
    pairs = {(r["a_doc_id"], r["b_doc_id"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["containment_a"] == 1.0
    assert r["jaccard"] < 0.5  # below the Jaccard dedup threshold
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ema_constant_series_and_head(spark):
    # EWMA of a constant series is that constant at EVERY row (the
    # present-weight renormalization makes the head unbiased), and a
    # two-value step series moves toward the new level monotonically.
    import datetime as dt

    from sigma_rx7_spark import registry

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=i), 7, "click", 5.0, "")
            for i in range(12)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    import os
    import tempfile

    with tempfile.TemporaryDirectory(dir="/root/repo/.staging") as td:
        df.write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
        # the other tables aren't read by this query; only events is
        out = registry.load_all()["q_window_ema"].fn(spark, td).collect()
    assert len(out) == 12
    for r in out:
        assert abs(r["ema_value"] - 5.0) < 1e-9, r


def test_pagerank_mass_and_determinism(spark, sf_dir):
    # Fixed-point PageRank: total mass stays within the documented
    # truncation leak of one unit per (edge, round) below SCALE, every
    # node keeps positive rank (teleport floor), and two runs are
    # bit-identical.
    from sigma_rx7_spark import registry
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.graph import (
        PR_ITERS,
        PR_SCALE,
        copurchase_edges,
    )

    q = registry.load_all()["q_graph_pagerank"]
    rows = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    again = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
    assert rows == again
    total = sum(r[1] for r in rows)
    n_edges = copurchase_edges(load(spark, sf_dir, "lineitem")).count()
    # each div truncates < 1 unit: edges per round + 1 per node per round
    leak_bound = PR_ITERS * (n_edges + len(rows) + 1)
    assert total <= PR_SCALE
    assert total >= PR_SCALE - leak_bound
    assert all(r[1] > 0 for r in rows)


def test_user_persist_survives_shared_queries(spark, sf_dir):
    # Queries share relations through materialize.share, which never
    # touches the CacheManager: a DataFrame the user persisted survives
    # the graph and dedup queries, and a repeat call (fresh lineage)
    # returns identical rows.
    from sigma_rx7_spark import registry

    mine = spark.range(100).select((F.col("id") * 2).alias("v")).persist()
    assert mine.count() == 100  # materialize the cache entry
    specs = registry.load_all()
    for name in ("q_graph_pagerank", "q_dedup_near"):
        q = specs[name]
        rows = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
        again = sorted(map(tuple, q.fn(spark, sf_dir).collect()))
        assert rows == again, name
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_weighted_sample_skews_toward_weight(spark):
    # Efraimidis-Spirakis with weight = n_chars must oversample long
    # documents. The harness sf0.001 strata are smaller than K (sample
    # == stratum, no bias measurable), so build a 200-doc stratum with
    # lengths 10..2000: the K=25 weighted picks must average well above
    # the corpus mean, and membership must be identical across runs.
    import os
    import tempfile

    from sigma_rx7_spark import registry
    from sigma_rx7_spark.llm.sampling import WEIGHTED_K

    docs = [(i, "x" * (10 * (i + 1)), "en", "s0", 10 * (i + 1))
            for i in range(200)]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    with tempfile.TemporaryDirectory(dir="/root/repo/.staging") as td:
        df.write.mode("overwrite").parquet(
            os.path.join(td, "documents.parquet"))
        q = registry.load_all()["q_sample_weighted"]
        got = q.fn(spark, td).collect()
        again = q.fn(spark, td).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    (r,) = got
    assert r["n_sampled"] == WEIGHTED_K
    corpus_mean = sum(d[4] for d in docs) / len(docs)   # 1005
    sample_mean = r["sample_chars"] / r["n_sampled"]
    # K=25 of 200 without replacement attenuates the w-proportional
    # bias; measured +17% on this geometry — assert a >10% lift.
    assert sample_mean > 1.1 * corpus_mean, (sample_mean, corpus_mean)


def test_kmv_sketch_merge_and_estimator_properties():
    """KMV closed-form properties the q_agg_kmv_distinct docstring
    claims: (1) sketch merge is associative/lossless — the k smallest
    of a union equal the k smallest of the merged per-partition k-sets
    (what makes the sketch mergeable at 100 TB); (2) the (k-1)/h_k
    estimator lands within the standard ~1/sqrt(k) relative-error
    envelope on md5-uniform hashes (deterministic check, generous 5x
    bound — this is a sanity rail, not a statistics proof)."""
    import hashlib

    k = 64

    def hv(x: int) -> float:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16) / 2**32

    ids = list(range(2000))
    hashes = sorted(hv(i) for i in set(ids))
    # (1) mergeability: split into 4 "partitions", sketch each, merge
    parts = [ids[i::4] for i in range(4)]
    merged = sorted(h for p in parts for h in sorted(hv(i) for i in p)[:k])[:k]
    assert merged == hashes[:k]
    # (2) estimator accuracy envelope
    est = (k - 1) / hashes[k - 1]
    rel_err = abs(est - len(ids)) / len(ids)
    assert rel_err < 5 / (k ** 0.5), (est, rel_err)


def test_observation_api_counts_inflight(spark, sf_dir):
    """Spark's Observation API: data-quality metrics collected DURING a
    real query's execution (no second scan) — the in-flight audit
    pattern q_quality_audit would use at 100 TB to avoid re-reading a
    batch just to count it. Metrics must equal the separately-computed
    truth."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load as load_table

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("audit")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .alias("n_null_values"),
    )
    out = observed.groupBy("event_type").count()
    out.collect()  # one pass: aggregate AND metrics
    truth = ev.agg(F.count(F.lit(1))).first()[0]
    assert obs.get["n_rows"] == truth
    assert obs.get["n_null_values"] == 0


def test_budget_apportionment_is_exact(spark, sf_dir):
    # Largest-remainder quotas must sum to EXACTLY the budget (the whole
    # point over naive rounding), every quota must be non-negative, and
    # the draw must fill each quota (no source undershoots unless it has
    # fewer docs than its quota — not the case in the fixtures).
    from sigma_rx7_spark.llm.sampling import BUDGET_N, q_sample_budget

    rows = q_sample_budget(spark, sf_dir).collect()
    assert sum(r["quota"] for r in rows) == BUDGET_N
    assert all(r["quota"] >= 0 for r in rows)
    assert all(r["n_sampled"] == min(r["quota"], r["n_total"])
               for r in rows)


def test_quality_model_gate_splits_corpus(spark, sf_dir):
    # The trained gate must actually partition the corpus: some docs
    # above the mean-score threshold, some below (an all-keep or
    # all-drop filter means the fit or the threshold degenerated).
    from sigma_rx7_spark.llm.pipeline import q_pipeline_quality_model

    rows = q_pipeline_quality_model(spark, sf_dir).collect()
    kept = sum(r["n_kept"] for r in rows)
    total = sum(r["n_docs"] for r in rows)
    assert 0 < kept < total, (kept, total)


def test_pca_power_is_unit_and_improves_rayleigh(spark, sf_dir):
    # The in-engine power iterate must be unit-norm, and its Rayleigh
    # quotient v'Σv (= eigenvalue estimate) must dominate the start
    # vector's — two rounds already concentrate mass toward the top
    # eigenspace even on the thin-spectral-gap fixture corpus.
    from sigma_rx7_spark.llm.clustering import (
        EMB_DIM,
        q_embed_cov,
        q_embed_pca_power,
    )

    rows = q_embed_pca_power(spark, sf_dir).collect()
    assert len(rows) == EMB_DIM
    v = {r["pos"]: r["component"] for r in rows}
    lam = rows[0]["eigenvalue"]
    assert abs(sum(x * x for x in v.values()) - 1.0) < 1e-6
    cov = {}
    for r in q_embed_cov(spark, sf_dir).collect():
        cov[(r["i"], r["j"])] = r["cov"]
        cov[(r["j"], r["i"])] = r["cov"]
    def rayleigh(vec):
        nrm2 = sum(x * x for x in vec.values())
        return sum(cov.get((i, j), 0.0) * vec[i] * vec[j]
                   for i in vec for j in vec) / nrm2
    v0 = {i: 1.0 for i in range(EMB_DIM)}
    assert rayleigh(v) > rayleigh(v0)
    assert lam > 0
