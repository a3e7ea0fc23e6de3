"""Round-15 property tests: the W50 skyline sweep vs a brute-force
dominance model, the single-pass KMV rewrite vs a from-scratch Python
model, and the text-family greatest()-floor rewrite on the degenerate
empty-document shape the old CASE guards existed for."""
from __future__ import annotations

import hashlib
import random


def _naive_skyline(points):
    """Quadratic dominance filter over distinct (price, size) pairs —
    the definition, independent of both engines' algorithms."""
    pts = sorted(set(points))
    out = []
    for p, s in pts:
        dominated = any(
            (p2 <= p and s2 >= s and (p2 < p or s2 > s))
            for p2, s2 in pts)
        if not dominated:
            out.append((p, s))
    return sorted(out)


def test_skyline_sweep_matches_bruteforce_model(spark, tmp_path):
    from sigma_rx7_spark.registry import load_all

    rng = random.Random(1507)
    rows = []
    for brand in ("B#1", "B#2", "B#3"):
        for _ in range(120):
            # small value domains so price ties, size ties, and exact
            # duplicate points all occur (the tiebreak cases)
            rows.append((brand, float(rng.randint(1, 15)),
                         rng.randint(1, 10)))
    df = spark.createDataFrame(rows, "p_brand string, p_retailprice "
                               "double, p_size int")
    df.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))

    got = load_all()["q_window_skyline"].fn(spark, str(tmp_path))
    got_by_brand = {}
    for r in got.collect():
        got_by_brand.setdefault(r.p_brand, []).append((r.price, r.size))
    for brand in ("B#1", "B#2", "B#3"):
        want = _naive_skyline(
            [(p, s) for b, p, s in rows if b == brand])
        assert sorted(got_by_brand.get(brand, [])) == want, brand


def test_skyline_single_point_and_total_tie_groups(spark, tmp_path):
    from sigma_rx7_spark.registry import load_all

    rows = [
        ("ONE", 5.0, 5),                      # singleton -> itself
        ("TIE", 3.0, 7), ("TIE", 3.0, 7),     # exact duplicates -> one
        ("COL", 2.0, 4), ("COL", 2.0, 9),     # same price -> max size
    ]
    df = spark.createDataFrame(rows, "p_brand string, p_retailprice "
                               "double, p_size int")
    df.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    got = sorted(tuple(r) for r in
                 load_all()["q_window_skyline"].fn(
                     spark, str(tmp_path)).collect())
    assert got == [("COL", 2.0, 9), ("ONE", 5.0, 5), ("TIE", 3.0, 7)]


def test_kmv_single_pass_matches_python_model(spark, sf_dir):
    """The r15 single-pass KMV (rank-gated max inside one aggregation)
    against a from-scratch Python model of the estimator: distinct
    users per event type, portable md5-prefix hash, (k-1)/h_k."""
    import duckdb

    from sigma_rx7_spark.operators.aggregates import KMV_K
    from sigma_rx7_spark.registry import load_all

    con = duckdb.connect()
    rows = con.execute(
        "SELECT DISTINCT event_type, user_id FROM "
        f"read_parquet('{sf_dir}/events.parquet')").fetchall()
    con.close()
    by_type: dict[str, set] = {}
    for et, uid in rows:
        by_type.setdefault(et, set()).add(uid)
    want = {}
    for et, users in by_type.items():
        hvs = sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)
            / 2.0 ** 32
            for u in users)
        n = len(users)
        est = float(n) if n < KMV_K else (KMV_K - 1) / hvs[KMV_K - 1]
        want[et] = (n, est)

    got = {r.event_type: (r.n_exact, r.kmv_est)
           for r in load_all()["q_agg_kmv_distinct"].fn(
               spark, sf_dir).collect()}
    assert got == want


def test_langid_floor_on_empty_and_stopword_free_docs(spark, tmp_path):
    """The greatest(ntok, 1) floor must reproduce the old CASE contract
    exactly where the guard used to bite: empty text -> ratio 0.0 (not
    NULL, not a crash) and pred_en FALSE; stopword-free text -> 0.0."""
    from sigma_rx7_spark.registry import load_all

    rows = [
        (1, "", "en", "s", 0),
        (2, "   ", "en", "s", 3),            # whitespace-only tokenizes empty
        (3, "zebra quartz vortex", "en", "s", 19),
        (4, "the cat sat on the mat", "en", "s", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.doc_id: (r.en_stop_ratio, r.pred_en)
           for r in load_all()["q_text_langid"].fn(
               spark, str(tmp_path)).collect()}
    assert got[1] == (0.0, False)
    assert got[2] == (0.0, False)
    assert got[3] == (0.0, False)
    assert got[4][0] > 0.12 and got[4][1] is True


def test_lit_double_matrix_bit_exact_roundtrip(spark):
    """_lit_double_matrix (one parsed D-suffixed literal) must produce
    the IDENTICAL binary64 values as per-element F.lit construction —
    the SRP signatures (and their oracle hashes) depend on it."""
    from pyspark.sql import functions as F

    from sigma_rx7_spark.llm.dedup import _lit_double_matrix, _srp_weights

    rows = [_srp_weights(h) for h in range(8)]
    # adversarial extras: values whose shortest repr stresses the parser
    rows.append([0.1, -0.3, 1e-300, -4.9e-324, 2.0 ** -1074,
                 0.30000000000000004, 1.7976931348623157e308, 0.0])
    got = spark.range(1).select(
        _lit_double_matrix(rows).alias("m")).collect()[0]["m"]
    lit = spark.range(1).select(F.array(*[
        F.array(*[F.lit(w) for w in row]) for row in rows
    ]).alias("m")).collect()[0]["m"]
    assert all(
        a == b and repr(a) == repr(b)
        for rg, rl in zip(got, lit) for a, b in zip(rg, rl))
    assert got == [list(r) for r in rows] or all(
        a == b for rg, rw in zip(got, rows) for a, b in zip(rg, rw))
