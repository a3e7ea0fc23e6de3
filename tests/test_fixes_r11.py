"""Round-11 advice fixes (VERDICT/ADVICE r10).

``pagerank_fixedpoint(symmetric=False)`` reinstates the per-round left
join so dangling-IN nodes (out-edges only) keep teleport-only rank on
general directed graphs. (The round's staging fixes, trailing-slash sf
keys and the stamp following the embeddings bytes, are pinned by
tests/test_layout.py::test_staging_identity.)
"""

from __future__ import annotations


def test_pagerank_general_graph_keeps_dangling_in_nodes(spark):
    from sigma_rx7_spark.operators.graph import (PR_SCALE,
                                                 pagerank_fixedpoint)

    # Node 1 has out-edges only (dangling-IN): on the symmetric fast
    # path it would vanish; symmetric=False must keep it with the
    # teleport-only rank.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2)], "src int, dst int")
    out = {r["node"]: r["rank_fp"]
           for r in pagerank_fixedpoint(edges, symmetric=False).collect()}
    assert set(out) == {1, 2, 3}
    teleport = (100 - 85) * PR_SCALE // (100 * 3)
    assert out[1] == teleport
    assert out[2] > out[1] and out[3] > out[1]
    # The symmetric fast path on an actually-symmetric graph matches
    # the general path exactly.
    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src int, dst int")
    fast = {r["node"]: r["rank_fp"]
            for r in pagerank_fixedpoint(sym).collect()}
    slow = {r["node"]: r["rank_fp"]
            for r in pagerank_fixedpoint(sym, symmetric=False).collect()}
    assert fast == slow
