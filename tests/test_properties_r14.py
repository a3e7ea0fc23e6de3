"""Round-14 property tests: ADVICE r13 closures (quote-aware TPC-H
token rewrite, CVaR integer rank) and the quality_features floor
equivalence behind the eval-family guard trim."""
from __future__ import annotations

import re


def test_tpch_sub_never_rewrites_inside_literals():
    # ADVICE r13: the engine/oracle table-token rewrite must leave
    # single-quoted literals untouched — a text with p_name LIKE
    # '%part%' must keep the literal while the FROM clause rebinds.
    from sigma_rx7_spark.io import sub_outside_literals

    sql = ("SELECT * FROM part WHERE p_name LIKE '%part%' "
           "AND p_comment <> 'it''s part of orders' AND p_size > 1")
    out = sub_outside_literals(r"\bpart\b", "tpch_part_01", sql)
    assert "FROM tpch_part_01 WHERE" in out
    assert "LIKE '%part%'" in out                      # literal intact
    assert "'it''s part of orders'" in out             # escaped-quote literal
    # and the non-matching tokens are untouched
    assert "p_name" in out and "p_size" in out


def test_tpch_texts_no_table_tokens_inside_literals():
    # Belt-and-braces for the scanner: the canonical texts themselves
    # keep table tokens out of literals, so a collision can only come
    # from a future edit — which the quote-aware scanner now survives.
    from sigma_rx7_spark import io
    from sigma_rx7_spark.operators import tpch

    texts = {k: v for k, v in vars(tpch).items()
             if re.fullmatch(r"_Q\d\d", k)}
    assert len(texts) == 22
    for qname, sql in texts.items():
        for lit in re.findall(r"'((?:[^']|'')*)'", sql):
            for t in (*io.TABLES, "partsupp"):
                assert not re.search(rf"\b{t}\b", lit), (qname, t, lit)


def test_harness_embedding_norms_strictly_positive():
    # ADVICE r13 (documented path): the sim-family DuckDB oracles keep
    # the unguarded x / sqrt(list_inner_product(x, x)) form while the
    # engine floors the norm at 1e-300. The two forms agree exactly
    # WHENEVER every gated vector has a nonzero norm — this test pins
    # that precondition on both scales the external hash gate runs at,
    # so the drift ADVICE describes (DuckDB NaN ordering admitting a
    # zero-norm row the engine filters) cannot occur silently. The
    # engine-side floor itself is exercised by the flat_corpus
    # degenerate sweep (engine-only, no oracle), where zero-norm
    # vectors are the PROFILE.
    import duckdb

    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        (norm_min,) = con.execute(
            "SELECT MIN(list_inner_product(CAST(embedding AS DOUBLE[]),"
            " CAST(embedding AS DOUBLE[]))) FROM "
            f"read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        ).fetchone()
        con.close()
        assert norm_min is not None and norm_min > 0.0, sf


def test_cvar_rank_matches_python_ceil(spark, sf_dir):
    # ADVICE r13: the VaR rank must be exact integer ceil(n*95/100) —
    # replay the rank and the VaR value per segment in plain Python.
    import math
    from decimal import Decimal

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.operators.aggregates import q_agg_cvar

    got = {r["segment"]: r for r in q_agg_cvar(spark, sf_dir).collect()}
    li = load(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_extendedprice").collect()
    by_seg: dict[str, list] = {}
    for r in li:
        by_seg.setdefault(r["l_returnflag"], []).append(
            Decimal(str(r["l_extendedprice"])))
    assert set(got) == set(by_seg)
    for seg, vals in by_seg.items():
        vals.sort()
        n = len(vals)
        rk = math.ceil(n * 95 / 100)
        assert rk == (n * 95 + 99) // 100  # the DIV form the engine uses
        var_p = vals[rk - 1]
        tail = [v for v in vals if v >= var_p]
        assert got[seg]["n_rows"] == n, seg
        assert Decimal(str(got[seg]["var95"])) == var_p, seg
        assert got[seg]["tail_n"] == len(tail), seg


def test_quality_features_floor_equals_case_guard(spark):
    # The r14 greatest(ntok, 1) divisor floor must be value-equivalent
    # to the old CASE guard on every document shape, including the
    # flat_corpus degenerates (empty text, all-space text) where the
    # guard actually fires.
    from sigma_rx7_spark.llm.pipeline import quality_features

    rows = [
        ("d1", "s", 0, "", "en"),
        ("d2", "s", 3, "   ", "xx"),            # all spaces: ntok = 0
        ("d3", "s", 12, "the cat sat", "en"),
        ("d4", "s", 7, "  a  of ", "xx"),        # padded tokens
        ("d5", "s", 4, "zzzz", "xx"),            # no stopwords
    ]
    d = spark.createDataFrame(
        rows, "doc_id string, source string, n_chars int, "
              "text string, lang string")
    got = {r["doc_id"]: r for r in quality_features(d).collect()}

    # independent replay of the ORIGINAL CASE semantics
    for doc_id, _, n_chars, text, lang in rows:
        toks = [t for t in text.split(" ") if t != ""]
        ntok = len(toks)
        if ntok == 0:
            x1, x2 = 0.0, 0.0
        else:
            stop = sum(1 for t in toks if t in
                       ("the", "a", "of", "and", "to", "in", "is", "it"))
            x1 = stop / ntok
            x2 = len(text.replace(" ", "")) / ntok / 10.0
        r = got[doc_id]
        assert abs(r["x1"] - x1) < 1e-12, doc_id
        assert abs(r["x2"] - x2) < 1e-12, doc_id
        assert r["y"] == (1.0 if lang == "en" else 0.0), doc_id
