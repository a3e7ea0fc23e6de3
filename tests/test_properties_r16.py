"""Round-16 optimization properties.

The r16 rewrites must be BIT-EXACT re-expressions: the Arrow-vectorized
exact cosine scorer replaces the JVM ``aggregate`` fold, so its doubles
must equal the fold's doubles bit for bit (the query is hash-gated
against DuckDB). These tests pin that equality on the real fixture,
plus the numpy mirrors' arithmetic against the engine expressions.
"""

from __future__ import annotations

import math
import struct

import pytest

from sigma_rx7_spark import registry
from sigma_rx7_spark.io import load

ALL = registry.load_all()


def _bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def _assert_cosine_matches_fold(spark, sf_dir):
    from sigma_rx7_spark.llm.dedup import _allpairs_cosine_jvm

    e = load(spark, sf_dir, "embeddings")
    new = ALL["q_dedup_cosine"].fn(spark, sf_dir).collect()
    old = _allpairs_cosine_jvm(e).collect()
    new_m = {(r.a_vec_id, r.b_vec_id): r.cos_sim for r in new}
    old_m = {(r.a_vec_id, r.b_vec_id): r.cos_sim for r in old}
    assert set(new_m) == set(old_m)
    assert len(new) == len(new_m)  # no duplicate pairs
    for k, v in old_m.items():
        assert _bits(new_m[k]) == _bits(v), (k, new_m[k], v)
    return old_m


def test_arrow_cosine_bit_equals_jvm_fold(spark, sf_dir):
    # The mapInArrow scorer vs the r15 BroadcastNestedLoopJoin fold:
    # same pairs, and every cos_sim IDENTICAL AT THE BIT LEVEL (the
    # property the hash gate needs; == would also pass for -0.0/0.0
    # and fail for NaN, so compare raw bit patterns).
    _assert_cosine_matches_fold(spark, sf_dir)


# Embedding columns the Arrow kernels must not take (kernels.py's
# regularity predicate): each case rewrites one sf embedding.
_COSINE_CASES = ("null_row", "null_element", "nan", "pos_inf", "neg_inf",
                 "ragged")
_COV_CASES = _COSINE_CASES + ("abs16", "empty")


def _rewrite_embeddings(sf_dir, out_dir, case) -> str:
    """Write ``sf_dir``'s embeddings table to ``out_dir`` with one row's
    embedding rewritten per ``case`` (or no rows, for ``empty``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    if case == "empty":
        tbl = tbl.slice(0, 0)
    else:
        emb = tbl.column("embedding").to_pylist()
        v = emb[1]
        emb[1] = {
            "regular": v,
            "null_row": None,
            "null_element": [None] + v[1:],
            "nan": [math.nan] + v[1:],
            "pos_inf": [math.inf] + v[1:],
            "neg_inf": [-math.inf] + v[1:],
            "ragged": v[:-1],
            "abs16": [16.0] + v[1:],
        }[case]
        idx = tbl.schema.get_field_index("embedding")
        tbl = tbl.set_column(idx, tbl.schema.field(idx),
                             pa.array(emb, tbl.schema.field(idx).type))
    pq.write_table(tbl, f"{out_dir}/embeddings.parquet")
    return str(out_dir)


@pytest.mark.parametrize("case", _COSINE_CASES)
def test_cosine_irregular_embeddings_match_jvm_fold(spark, sf_dir, tmp_path,
                                                    case):
    # The regularity gate must route every irregular column to the JVM
    # fold, so the query still equals the fold pair for pair. A NULL
    # row once raised TypeError in the gate, a NULL element became NaN
    # in the dense matrix, and a NaN/+inf component dropped every pair
    # it touched (numpy's NaN >= t is false, Spark's is true).
    assert _assert_cosine_matches_fold(
        spark, _rewrite_embeddings(sf_dir, tmp_path, case))


@pytest.mark.parametrize("case", _COV_CASES)
def test_cov_irregular_embeddings_match_explode_path(spark, sf_dir,
                                                     tmp_path, case):
    # Twin of the cosine cases for q_embed_cov's gate (plus a component
    # at the fixed-point bound and an empty table): bit-equal to the
    # explode path, or the same exception class when both raise.
    from sigma_rx7_spark.llm.clustering import _embed_cov_jvm

    d = _rewrite_embeddings(sf_dir, tmp_path, case)

    def run(build):
        try:
            return {(r.i, r.j): (r.n_vecs,
                                 None if r.cov is None else _bits(r.cov))
                    for r in build().collect()}
        except Exception as exc:  # noqa: BLE001 — compared by class
            return type(exc)

    new = run(lambda: ALL["q_embed_cov"].fn(spark, d))
    old = run(lambda: _embed_cov_jvm(load(spark, d, "embeddings")))
    assert new == old


@pytest.mark.parametrize("case", ("regular",) + _COV_CASES)
def test_dense_gates_agree(spark, sf_dir, tmp_path, case):
    # One predicate, two engines: dense_width (Spark aggregate) returns
    # None exactly when dense_rows (Arrow) raises, at either bound, and
    # exactly when collect_dense returns None; a regular column decodes
    # to the same doubles as np.asarray(to_pylist()).
    import numpy as np

    from sigma_rx7_spark.kernels import collect_dense, dense_rows, dense_width

    d = _rewrite_embeddings(sf_dir, tmp_path, case)
    src = load(spark, d, "embeddings").select("vec_id", "embedding")
    col = src.toArrow().column("embedding")

    def width_or_raise(abs_max):
        try:
            return dense_rows(col, abs_max=abs_max).shape[1]
        except ValueError:
            return None

    for abs_max in (math.inf, 16.0):
        assert (dense_width(src, "embedding", abs_max=abs_max)
                == width_or_raise(abs_max)), abs_max
    built = collect_dense(src, "vec_id", "embedding")
    assert (built is None) == (width_or_raise(math.inf) is None)
    assert (built is None) == (case not in ("regular", "abs16"))
    if built is not None:
        ids, V = built
        assert V.shape == (len(ids), 64)
        assert V.tobytes() == np.asarray(
            col.to_pylist(), dtype=np.float64).tobytes()


def test_np_unit_rows_matches_engine_normalized(spark, sf_dir):
    # The numpy normalization mirror vs the engine expression, element
    # by element at the bit level — including the 1e-300 zero floor.
    import numpy as np

    from sigma_rx7_spark.llm.similarity import normalized, np_unit_rows

    e = load(spark, sf_dir, "embeddings").limit(200)
    rows = e.select("vec_id", normalized("embedding").alias("nv"),
                    "embedding").collect()
    V = np.asarray([list(r.embedding) for r in rows], dtype=np.float64)
    N = np_unit_rows(V)
    for i, r in enumerate(rows):
        for j, x in enumerate(r.nv):
            assert _bits(N[i, j]) == _bits(x), (r.vec_id, j)
    # zero vector: floor divisor keeps +0.0 components
    Z = np_unit_rows(np.zeros((1, 4)))
    assert Z.tolist() == [[0.0, 0.0, 0.0, 0.0]]


def test_np_pairwise_dots_is_sequential_fold():
    # The rank-1-update accumulation must equal a scalar left fold (the
    # definition the JVM aggregate implements), bit for bit, on values
    # where a reordered/pairwise sum WOULD differ.
    import numpy as np

    from sigma_rx7_spark.llm.similarity import np_pairwise_dots

    rng = [1e16, 1.0, -1e16, 3.0, 0.1, -7.25, 1e-9, 2.0]
    A = np.asarray([rng, rng[::-1]], dtype=np.float64)
    B = np.asarray([[0.3, -1.1, 0.3, 5.0, 1e10, 2.0, -0.5, 1.25],
                    [1.0] * 8], dtype=np.float64)
    got = np_pairwise_dots(A, B)
    for i in range(A.shape[0]):
        for j in range(B.shape[0]):
            acc = 0.0
            for d in range(A.shape[1]):
                acc = acc + A[i, d] * B[j, d]
            assert _bits(got[i, j]) == _bits(acc), (i, j)


def test_arrow_cov_bit_equals_explode_path(spark, sf_dir):
    # The fixed-point mapInArrow covariance accumulator vs the r15
    # double-explode plan: same (i, j) set, n_vecs equal, and every cov
    # double IDENTICAL AT THE BIT LEVEL (hash-gate property), plus the
    # result schemas (names, types, nullability) byte-equal.
    from sigma_rx7_spark.llm.clustering import _embed_cov_jvm

    e = load(spark, sf_dir, "embeddings")
    new_df = ALL["q_embed_cov"].fn(spark, sf_dir)
    old_df = _embed_cov_jvm(e)
    assert new_df.schema == old_df.schema
    new = {(r.i, r.j): (r.n_vecs, r.cov) for r in new_df.collect()}
    old = {(r.i, r.j): (r.n_vecs, r.cov) for r in old_df.collect()}
    assert set(new) == set(old) and len(new) > 0
    for k, (n_o, c_o) in old.items():
        n_n, c_n = new[k]
        assert n_n == n_o, k
        assert _bits(c_n) == _bits(c_o), (k, c_n, c_o)


def test_scale9_int64_matches_engine_decimal_cast(spark):
    # The vectorized double->DECIMAL(20,9) mirror vs Spark's cast, on
    # adversarial float32 values: exact decimal halves (dyadic m/1024,
    # where HALF_UP vs HALF_EVEN diverge), negatives, tiny magnitudes.
    import numpy as np

    from pyspark.sql import functions as F

    from sigma_rx7_spark.llm.clustering import _scale9_int64

    f32 = [3.0 / 1024, -3.0 / 1024, 5.0 / 1024, -1.5 / 1024, 0.1, -0.1,
           1.0, -1.0, 0.0, 1e-30, -1e-30, 15.9999, -15.9999, 2.5e-9,
           -2.5e-9, 7.5e-9]
    vals = [float(np.float32(x)) for x in f32]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    eng = [r.d for r in df.select(
        (F.col("x").cast("decimal(20,9)") * F.lit(10 ** 9))
        .cast("bigint").alias("d")).collect()]
    got = _scale9_int64(np.asarray(vals, dtype=np.float64)).tolist()
    assert got == eng, list(zip(vals, got, eng))


def test_bitset_cluster_pairs_equal_join_pairs(spark, sf_dir):
    # The grouped-map bitset pair stage vs the r15 blocked self-join:
    # identical (src, dst) edge sets (integer-exact contract).
    from pyspark.sql import functions as F

    from sigma_rx7_spark.functions.text import tokens
    from sigma_rx7_spark.llm.dedup import CLUSTER_JACCARD, _cluster_pairs

    d = load(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", "source",
        F.array_distinct(tokens(F.col("text"))).alias("words"))
    new = [(r.src, r.dst) for r in _cluster_pairs(words).collect()]
    assert len(new) == len(set(new))  # no duplicate pairs
    new = set(new)
    a = d.select(F.col("doc_id").alias("a_doc_id"), "lang", "source",
                 F.array_distinct(tokens(F.col("text"))).alias("a_words"))
    b = d.select(F.col("doc_id").alias("b_doc_id"),
                 F.col("lang").alias("b_lang"),
                 F.col("source").alias("b_source"),
                 F.array_distinct(tokens(F.col("text"))).alias("b_words"))
    n_common = F.size(F.array_intersect("a_words", "b_words"))
    union_sz = F.size("a_words") + F.size("b_words") - n_common
    jaccard = (F.when(union_sz == 0, F.lit(1.0))
               .otherwise(n_common.cast("double") / union_sz))
    old = set((r.src, r.dst) for r in a.join(
        b, (F.col("lang") == F.col("b_lang"))
        & (F.col("source") == F.col("b_source"))
        & (F.col("a_doc_id") < F.col("b_doc_id")))
        .where(jaccard >= CLUSTER_JACCARD)
        .select(F.col("a_doc_id").alias("src"),
                F.col("b_doc_id").alias("dst")).collect())
    assert new == old and len(new) > 0
