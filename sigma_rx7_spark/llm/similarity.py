"""Similarity search over embeddings (SURVEY.md §2.11 L2).

North-star operator (BASELINE.json mandate): top-k cosine neighbors over
an ``array<float>`` column.

Scale design: brute-force (query-set × corpus) is the exactness baseline
— fine when the query side broadcasts. The scale path is coarse
quantization (IVF-style): assign every vector to its nearest of C
centroids, search only the probe's closest cells — implemented here as
``ivf_assign``/``q_sim_topk_ivf`` with deterministic data-derived
centroids. Vector math uses ``zip_with``/``aggregate`` higher-order
functions: JVM codegen, no Python, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import staging
from ..io import load, memo, read_staged
from ..materialize import share
from ..registry import query

EMB_DIM = 64  # harness embedding dimensionality (asserted in tests)
PQ_SUBS = 4  # PQ subspaces; sub-vector width = EMB_DIM / PQ_SUBS = 16
TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the probe set in the harness queries
NPROBE = 4

def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_idx(a: Column | str, b: Column | str) -> Column:
    """``dot`` in index-fold form: fold an index sequence, reading both
    operands with element_at instead of materializing zip_with's
    dim-wide product array per pair. Identical arithmetic and summation
    order (bit-exact vs both ``dot`` and list_inner_product — proven by
    the full mirror suite), but the FASTER form only under hash joins:

    - BroadcastHashJoin verify paths: 2.2 s -> 0.9 s over 815k LSH
      candidate pairs at sf0.1 (whole-stage codegen keeps the operand
      arrays in registers; skipping the product array halves the work).
    - BroadcastNestedLoopJoin / crossJoin paths: 12 s -> 18 s on the
      2M-pair all-pairs scorer — the interpreted-eval regime there pays
      per-element_at boxing that zip_with's single vectorized pass
      avoids. Measured both ways; pick by join type, not taste.

    Empty inputs fold to 0.0 like zip_with (guard needed: Spark's
    sequence(1, 0) counts DOWN rather than producing an empty array)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    fold = F.aggregate(
        F.sequence(F.lit(1), F.size(ca)),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(ca, i).cast("double")
        * F.element_at(cb, i),
    )
    return F.when(F.size(ca) < 1, F.lit(0.0)).otherwise(fold)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column | str, b: Column | str) -> Column:
    # a zero vector has no direction: its cosine to anything is 0 by
    # contract, not an ANSI DIVIDE_BY_ZERO (flat_corpus profile, r13) —
    # dead on harness data (q_embed_audit pins norm_min > 0). The guard
    # is a greatest() floor rather than when(den==0).otherwise(...):
    # the CASE form textually references each O(dim) norm fold twice
    # and only codegen subexpression elimination saves it (A/B showed
    # CSE does fire here, but the floor needs no such rescue and reads
    # one fold per side by construction); bit-exact for every nonzero
    # den (greatest returns den itself; a zero dot over 1e-300 is +0.0)
    den = F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-300))
    return dot(a, b) / den


def normalized(a: Column | str) -> Column:
    """Unit-normalize a vector ONCE so every downstream pair score is a
    single dot product instead of dot + two norms — at n_pairs ≫ n_rows
    (always true for pairwise scoring) this is the difference between
    O(pairs) and O(3·pairs) HOF work. Bench: ~3× on the cosine family.

    The norm rides in via ``array_repeat`` + ``zip_with`` rather than a
    closure over the lambda: HOF *arguments* evaluate once per row, while
    anything inside the lambda body re-evaluates per element — a nested
    norm would cost O(dim²) per row (measured, not hypothetical).

    A zero vector normalizes to ITSELF (all zeros): the divisor is
    floored at 1e-300 with greatest() — preferred over a
    when/otherwise whose condition would textually re-reference the
    O(dim) norm fold and lean on codegen subexpression elimination to
    dedupe it — so nonzero vectors divide by their exact norm
    bit-identically and zero components stay +0.0 instead of crashing
    ANSI division (flat_corpus profile, r13)."""
    c = F.col(a) if isinstance(a, str) else a
    rep = F.array_repeat(F.greatest(l2_norm(c), F.lit(1e-300)),
                         F.size(c))
    return F.zip_with(c, rep, lambda x, n: x.cast("double") / n)


# The oracle twin of ``normalized``, as DuckDB CTE bodies: ``n``
# (vec_id, nv) unit-normalizes every embedding (a zero vector stays zero
# under the 1e-300 floor), ``q`` (q_id, q_nv) holds the probes
# (vec_id < N_QUERIES) and ``c`` (c_id, c_nv) the rest of the corpus.
UNIT_ORACLE = f"""n AS (
      SELECT vec_id,
             list_transform(
               CAST(embedding AS DOUBLE[]),
               x -> x / greatest(sqrt(list_inner_product(
                      CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))), 1e-300)) AS nv
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, nv AS q_nv FROM n WHERE vec_id < {N_QUERIES}
    ), c AS (
      SELECT vec_id AS c_id, nv AS c_nv FROM n WHERE vec_id >= {N_QUERIES}
    )"""


def np_unit_rows(V):
    """``normalized`` over the rows of a float64 matrix with EXACTLY
    the engine's arithmetic — the numpy mirror the Arrow-vectorized
    exact scorer uses (r16, guide §4.2 "hand whole batches to
    vectorized native libraries").

    Bit-exactness argument, term by term:
    - squares accumulate in a SEQUENTIAL left fold over dimensions
      (``acc = acc + x*x`` per dim, vectorized ACROSS rows, ordered
      WITHIN each row, acc starting at +0.0) — the identical IEEE-754
      multiply/add sequence as ``l2_norm``'s ``aggregate`` fold; numpy
      multiply/add are separate ufunc calls, so no FMA contraction can
      fuse them any more than the JVM does;
    - ``np.sqrt`` and ``Math.sqrt`` are both IEEE-correctly-rounded
      (hardware sqrt);
    - the divisor floor ``maximum(nrm, 1e-300)`` mirrors
      ``greatest(l2_norm, 1e-300)`` including NaN propagation (Spark
      orders NaN greatest; np.maximum propagates NaN);
    - the per-element division is one IEEE divide either way.
    Pinned by a property test against ``normalized``/``dot`` output on
    the harness fixture."""
    import numpy as np

    acc = np.zeros(V.shape[0], dtype=np.float64)
    for d in range(V.shape[1]):
        x = V[:, d]
        acc = acc + x * x
    nrm = np.maximum(np.sqrt(acc), 1e-300)
    return V / nrm[:, None]


def np_pairwise_dots(A, B):
    """Pairwise dot products (rows of A × rows of B) with EXACTLY the
    engine's fold order: one IEEE multiply + one IEEE add per
    dimension, d ascending, acc starting at +0.0 — ``dot``'s
    ``aggregate`` fold vectorized across pairs (64 rank-1 updates, NOT
    a matmul: BLAS gemm reorders/blocks the accumulation and would
    break the bit-equal hash gate vs DuckDB's list_inner_product)."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for d in range(A.shape[1]):
        acc = acc + A[:, d:d + 1] * B[:, d][None, :]
    return acc


def topk_bruteforce(queries: DataFrame, corpus: DataFrame,
                    k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k: broadcast the query side, rank per query.

    queries: (q_id, q_vec); corpus: (c_id, c_vec). The corpus is the big
    side and is never shuffled — each task scores its partition against
    the broadcast queries; the window ranks within q_id partitions. Both
    sides are unit-normalized up front (one pass each), so the pair score
    is a bare dot product.
    """
    qn = queries.select("q_id", normalized("q_vec").alias("q_vec"))
    cn = corpus.select("c_id", normalized("c_vec").alias("c_vec"))
    scored = cn.crossJoin(F.broadcast(qn)).select(
        "q_id", "c_id", dot("q_vec", "c_vec").alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


@query(
    "q_sim_topk",
    oracle=f"""
    WITH {UNIT_ORACLE}, scored AS (
      SELECT q_id, c_id, list_inner_product(q_nv, c_nv) AS cos_sim
      FROM q CROSS JOIN c
    )
    SELECT q_id, c_id, cos_sim, rank FROM (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
    tags=("L2",),
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 probe vectors. Hash-gated, not
    rows-only: both engines unit-normalize once then take a single
    left-fold dot product per pair (Spark ``aggregate``/``zip_with`` vs
    DuckDB ``list_inner_product`` — bit-equal, same construction as
    q_dedup_cosine), and (cos_sim DESC, c_id) is a total order, so the
    returned top-k set and every float in it match exactly."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    return topk_bruteforce(queries, corpus)


def train_ivf_centroids(corpus: DataFrame, seeds: DataFrame,
                        n_iter: int = 2) -> DataFrame:
    """Refine seed centroids with ``n_iter`` spherical k-means rounds.

    E-step: ``ivf_assign`` (nearest centroid by dot product — inputs are
    unit vectors). M-step: component-wise mean per cell, re-normalized to
    unit length (spherical k-means — the centroid update that matches
    cosine assignment). Cells that lose all members drop out, so the
    trained index can have ≤ the seeded cell count.

    Scale posture: each round is one broadcast-join assignment over the
    corpus plus a (cell, pos)-keyed partial+final aggregation whose
    output is k×dim rows; the corpus never shuffles. Component sums go
    through decimal quantization (``compat.q``) so the trained centroids
    are bit-identical across partitionings and re-runs — which is what
    lets the staged and inline IVF queries assert result equality.
    Centroids stay driver-small; ``share`` materializes each
    round so round N's plan doesn't replay rounds 1..N-1.
    """
    from ..compat import q as _q

    cent = seeds
    for _ in range(n_iter):
        assigned = ivf_assign(corpus, cent)
        comp = assigned.select(
            "cell_id", F.posexplode("c_vec").alias("pos", "x"))
        means = comp.groupBy("cell_id", "pos").agg(
            (F.sum(_q("x")).cast("double") / F.count("x")).alias("m"))
        # Reassemble the mean vector: collect_list order is executor-
        # dependent, so sort by the struct's leading pos field first.
        mean_vec = (
            means.groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("s"))
            .select("cell_id",
                    F.transform("s", lambda s: s["m"]).alias("mv"))
        )
        cent = share(mean_vec.select(
            "cell_id", normalized(F.col("mv")).alias("cent_vec")))
    return cent


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (max cosine).

    Both inputs must carry UNIT vectors (see ``normalized``), so the
    score is a bare dot product. centroids: (cell_id, cent_vec),
    broadcast-sized (C ≈ √N cells). Output adds ``cell_id`` — the
    coarse-quantization partition key. At 100 TB the corpus is written
    partitioned by cell_id so a probe touches only its nprobe cells'
    files.

    The argmax is a sortless ``max_by`` on (cent_sim, -cell_id) — ties
    break toward the smallest cell, a total order — so the C-way score
    expansion collapses map-side (partial aggregation) and the shuffle
    carries one row per vector, not C; a row_number window here would
    shuffle and sort all C candidate rows per vector.
    """
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        "c_id", "c_vec", "cell_id",
        dot("c_vec", "cent_vec").alias("cent_sim"),
    )
    order_key = F.struct(
        F.col("cent_sim").alias("sim"),
        (-F.col("cell_id")).alias("neg_cell"),
    )
    return (
        scored.groupBy("c_id")
        .agg(F.max_by(F.struct(F.col("c_vec"), F.col("cell_id")), order_key)
             .alias("best"))
        .select("c_id", F.col("best.c_vec").alias("c_vec"),
                F.col("best.cell_id").alias("cell_id"))
    )


# EMB_DIM shapes every staged vector artifact but is read, not written,
# by the builders, so it salts their stamps explicitly.
_DIM = f"dim={EMB_DIM}"


def _ivf_parts(spark: SparkSession,
               sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(queries, corpus, trained centroids) shared by both IVF queries.

    Seeding is a deterministic strided corpus sample whose STRIDE
    SCALES WITH THE CORPUS so the trained cell count stays ~sqrt(N) —
    the r10 decade run caught the fixed-stride-32 original building
    N/32 cells, which made index-build assignment cost O(N²/32)
    (QUADRATIC — training the synthetic sf1 decade blew a 10-minute
    budget); sqrt-N cells restore the N·sqrt(N) build and the
    sqrt(N)-per-probe scan every IVF deployment balances around. The
    seeds are then refined with two spherical k-means rounds
    (``train_ivf_centroids``) — the real index-build procedure, run
    inline here because the harness corpus is small. At 100 TB the
    training loop is the same plan executed as an offline job against a
    vector sample, with the trained centroids persisted next to the
    index (``build_ivf_index``).

    Training is SKIPPED whenever a completed same-stamp staging exists
    on disk (r10): the staged centroid parquet is the index artifact,
    so a fresh process probing an already-built index pays a read, not
    a retrain — cross-PROCESS amortization, the way a real offline
    index behaves.

    The returned (queries, corpus, centroids) triple goes through
    ``io.memo``, reused per session while the embeddings files are
    unchanged: all three are immutable LOGICAL PLANS, and rebuilding
    the normalized() expression trees plus the staged-centroid read
    cost ~0.25 s of py4j round trips per construction across the whole
    IVF family (optimization guide §4 — r15)."""
    return memo(spark, ("ivf_parts", sf_dir),
                lambda: _build_ivf_parts(spark, sf_dir),
                sf_dir=sf_dir, tables=("embeddings",))


def _build_ivf_parts(spark: SparkSession,
                     sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``_ivf_parts`` without the memo: plan the triple, training and
    staging the centroids if no completed staging exists."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), normalized("embedding").alias("q_vec"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), normalized("embedding").alias("c_vec"))

    # Stage the trained relation: k x dim rows, so the oracle reads the
    # exact bytes the Spark plan broadcasts.
    def build(path: str) -> None:
        # cells ~ sqrt(N): stride = N / sqrt(N), floored at the
        # original 32 so tiny harness corpora keep their shape.
        n = corpus.count()
        stride = max(32, int(n // max(1, int(n ** 0.5))))
        seeds = (
            corpus.where(F.col("c_id") % stride == 5)
            .select((F.col("c_id") / stride).cast("int")
                    .alias("cell_id"),
                    F.col("c_vec").alias("cent_vec"))
        )
        # Train on a deterministic 25% sample: index training only
        # needs a representative sketch of the density (the universal
        # IVF practice — FAISS trains on ~30-250 vectors/cell), while
        # assignment and probing always cover the FULL corpus.
        train_sample = corpus.where(F.col("c_id") % 4 == 0)
        centroids = spark.createDataFrame(
            train_ivf_centroids(train_sample, seeds).collect(),
            "cell_id int, cent_vec array<double>")
        centroids.coalesce(1).write.mode("overwrite").parquet(path)

    cent_path = staging.stage("ivf_centroids", sf_dir, build,
                              code=(train_ivf_centroids,),
                              inputs=("embeddings",), extra=_DIM)
    # NOTE: centroids stay on schema inference (an explicit schema
    # could flip element nullability and with it downstream
    # result-schema hashes).
    return queries, corpus, read_staged(spark, cent_path)


# What every artifact built from the trained centroids names upstream.
_CENTROID_CODE = (train_ivf_centroids, _ivf_parts, _build_ivf_parts)


# Assignment, probe selection, and rerank mirrored over the STAGED
# trained centroids: every pair score is the bit-exact left-fold dot /
# list_inner_product correspondence q_sim_topk proved, and both argmax
# steps carry an explicit total order (sim DESC, cell/c_id ASC), so the
# probed cells, the cell membership, and the final top-k all hash-match.
# __CENT_DIR__ is substituted with the sf-keyed staged path at oracle
# retrieval time (QuerySpec.oracle_for).
_IVF_ORACLE = f"""
WITH cent AS (
  SELECT cell_id, cent_vec
  FROM read_parquet('__CENT_DIR__/*.parquet')
), {UNIT_ORACLE}, assigned AS (
  SELECT c_id, c_nv, cell_id FROM (
    SELECT c.c_id, c.c_nv, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.c_id
             ORDER BY list_inner_product(c.c_nv, ct.cent_vec) DESC,
                      ct.cell_id) AS rn
    FROM c CROSS JOIN cent ct
  ) WHERE rn = 1
), probe AS (
  SELECT q_id, q_nv, cell_id FROM (
    SELECT q.q_id, q.q_nv, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY list_inner_product(q.q_nv, ct.cent_vec) DESC,
                      ct.cell_id) AS rn
    FROM q CROSS JOIN cent ct
  ) WHERE rn <= {NPROBE}
), scored AS (
  SELECT p.q_id, a.c_id,
         list_inner_product(p.q_nv, a.c_nv) AS cos_sim
  FROM probe p JOIN assigned a USING (cell_id)
)
SELECT q_id, c_id, cos_sim, rank FROM (
  SELECT q_id, c_id, cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def _ivf_oracle(sf_dir: str) -> str:
    """IVF oracle specialized to ``sf_dir``'s staged centroids."""
    return _IVF_ORACLE.replace("__CENT_DIR__",
                               staging.path("ivf_centroids", sf_dir))


@query("q_sim_topk_ivf", oracle=_ivf_oracle, tags=("L2",))
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: k-means-trained centroids (strided seed + two
    spherical refinement rounds), nprobe=4 cells per query, exact rerank
    inside the probed cells. The approximate counterpart of q_sim_topk.
    Every vector is unit-normalized once up front; all downstream scores
    are dot products.

    Hash-gated (promoted from rows-only in round 3): the trained
    centroids are deterministic and memoized, so they stage to parquet
    and the oracle mirrors assignment (argmax dot over cells), probe
    selection (top-nprobe cells per query), and the in-cell rerank on
    the same bytes."""
    queries, corpus, centroids = _ivf_parts(spark, sf_dir)
    assigned = ivf_assign(corpus, centroids)
    # nprobe=4: each query searches its 4 nearest cells only.
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cent_sim"), F.asc("cell_id"))
    probe_cells = (
        queries.crossJoin(F.broadcast(centroids))
        .select("q_id", "q_vec", "cell_id",
                dot("q_vec", "cent_vec").alias("cent_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("q_id", "q_vec", "cell_id")
    )
    scored = probe_cells.join(assigned, "cell_id").select(
        "q_id", "c_id", dot_idx("q_vec", "c_vec").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# ---- Staged IVF index (the warehouse-scale ANN layout) -------------------

def build_ivf_index(corpus: DataFrame, centroids: DataFrame,
                    path: str) -> None:
    """Materialize the IVF layout: corpus vectors assigned to their cell
    and written ``partitionBy(cell_id)``; centroids stored alongside.

    This is the offline index-build job: at 100 TB the corpus lands once
    in cell-partitioned parquet, and every probe afterwards reads only
    its nprobe cells' files (directory pruning — asserted on the probe
    plan in tests). Inputs must carry unit vectors (see ``normalized``).
    """
    assigned = ivf_assign(corpus, centroids)
    (assigned.write.mode("overwrite")
     .partitionBy("cell_id").parquet(f"{path}/cells"))
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def probe_ivf_index(spark: SparkSession, path: str, queries: DataFrame,
                    nprobe: int = NPROBE, k: int = TOP_K) -> DataFrame:
    """Top-k search against a staged IVF index.

    The probe-cell set is tiny (n_queries × nprobe ints), so it is
    collected as plan-time metadata and pushed into the scan filter —
    that is what turns the read into an nprobe-cells directory prune
    instead of a full-corpus scan.
    """
    centroids = read_staged(
        spark, f"{path}/centroids",
        "cell_id int, cent_vec array<double>")
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cent_sim"), F.asc("cell_id"))
    probe_cells = (
        queries.crossJoin(F.broadcast(centroids))
        .select("q_id", "q_vec", "cell_id",
                dot("q_vec", "cent_vec").alias("cent_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "cell_id")
    )
    # One evaluation for both consumers (the plan-time cell_ids collect
    # AND the scoring join): the probe relation is n_queries × nprobe
    # rows. Without sharing, the crossjoin+window ran twice per
    # probe — once for the collect, once inside the serve plan (guide
    # §1.2 "don't compute things twice").
    probe_cells = share(probe_cells)
    cell_ids = sorted({r["cell_id"] for r in
                       probe_cells.select("cell_id").distinct().collect()})
    cells = (read_staged(spark, f"{path}/cells",
                         "c_id bigint, c_vec array<double>, cell_id int")
             .where(F.col("cell_id").isin(cell_ids)))
    scored = probe_cells.join(cells, "cell_id").select(
        "q_id", "c_id", dot_idx("q_vec", "c_vec").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


@query("q_sim_topk_ivf_staged", oracle=_ivf_oracle, tags=("L2",))
def q_sim_topk_ivf_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN against the STAGED IVF index: build the cell-partitioned
    layout once (k-means-trained centroids, same training as the inline
    query), then probe it with partition pruning — the persistent-index
    form of q_sim_topk_ivf (same centroids, same results; equality
    asserted in tests)."""
    queries, corpus, centroids = _ivf_parts(spark, sf_dir)

    def build(path: str) -> None:
        build_ivf_index(corpus, centroids, path)

    path = staging.stage(
        "ivf", sf_dir, build,
        code=(build_ivf_index, ivf_assign) + _CENTROID_CODE,
        inputs=("embeddings",), parts=("cells", "centroids"), extra=_DIM)
    return probe_ivf_index(spark, path, queries)


# ---- Incremental IVF index maintenance (L2i) -----------------------------

# Deterministic arrival split: vectors with c_id % DELTA_MOD == DELTA_RES
# are the "new batch"; the rest are the base the index was built from.
DELTA_MOD, DELTA_RES = 16, 7


@query("q_sim_index_incremental", oracle=_ivf_oracle,
       tags=("L2i", "incremental"))
def q_sim_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF INDEX MAINTENANCE — the ANN twin of S19's
    incremental z-order (r9 verdict item 7): a delta embedding batch is
    assigned into the EXISTING trained cells (one broadcast-centroid
    argmax over the delta only — NO retrain, NO base rewrite) and lands
    as a second cell-partitioned relation next to the base index;
    probes union-scan base+delta with the same partition pruning. This
    is how a 100 TB vector index absorbs daily arrivals: assignment
    cost is O(|delta| x C), the base layout is immutable, and a
    periodic retrain/compaction (the full build_ivf_index) resets
    centroid drift — the same maintain-vs-rebuild split the z-order
    family documents.

    Gate: the probe result must equal the FULL-corpus IVF search
    (q_sim_topk_ivf's oracle verbatim) — same centroids + argmax
    assignment is partition-invariant, so splitting the corpus into
    base+delta may change FILES but never RESULTS. That equality is
    exactly the "maintenance loses nothing" claim."""
    queries, corpus, centroids = _ivf_parts(spark, sf_dir)
    base = corpus.where(F.col("c_id") % DELTA_MOD != DELTA_RES)
    delta = corpus.where(F.col("c_id") % DELTA_MOD == DELTA_RES)

    def build(path: str) -> None:
        build_ivf_index(base, centroids, path)
        # The incremental step: assign the delta against the FROZEN
        # centroids and append as its own cell-partitioned relation.
        (ivf_assign(delta, centroids)
         .write.mode("overwrite").partitionBy("cell_id")
         .parquet(f"{path}/delta_cells"))

    path = staging.stage(
        "ivfinc", sf_dir, build,
        code=(build_ivf_index, ivf_assign, q_sim_index_incremental)
        + _CENTROID_CODE,
        inputs=("embeddings",), parts=("cells", "centroids", "delta_cells"),
        extra=f"{_DIM}|{DELTA_MOD}|{DELTA_RES}")
    centroids_r = read_staged(spark, f"{path}/centroids",
                              "cell_id int, cent_vec array<double>")
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cent_sim"), F.asc("cell_id"))
    probe_cells = (
        queries.crossJoin(F.broadcast(centroids_r))
        .select("q_id", "q_vec", "cell_id",
                dot("q_vec", "cent_vec").alias("cent_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("q_id", "q_vec", "cell_id")
    )
    # Same single evaluation as probe_ivf_index (r15).
    probe_cells = share(probe_cells)
    cell_ids = sorted({r["cell_id"] for r in
                       probe_cells.select("cell_id").distinct().collect()})
    schema = "c_id bigint, c_vec array<double>, cell_id int"
    members = (
        read_staged(spark, f"{path}/cells", schema)
        .where(F.col("cell_id").isin(cell_ids))
        .unionByName(
            read_staged(spark, f"{path}/delta_cells", schema)
            .where(F.col("cell_id").isin(cell_ids))))
    scored = probe_cells.join(members, "cell_id").select(
        "q_id", "c_id", dot_idx("q_vec", "c_vec").alias("cos_sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
    )


# ---- Int8 embedding quantization (ANN memory compression) ----------------

QUANT_LEVELS = 127  # symmetric int8 range


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, x,
             greatest(list_max(list_transform(x, e -> abs(e))), 1e-12)
               / {QUANT_LEVELS} AS scale
      FROM v
    ), d AS (
      SELECT vec_id, label, x, scale,
             list_transform(x, e -> floor(e / scale + 0.5) * scale) AS deq
      FROM s
    ), e AS (
      SELECT vec_id, label, scale,
             list_transform(range(1, len(x) + 1),
                            i -> x[i] - deq[i]) AS diff
      FROM d
    )
    SELECT vec_id, label, scale,
           list_max(list_transform(diff, e -> abs(e))) AS max_abs_err,
           list_inner_product(diff, diff) / len(diff) AS mse
    FROM e
    """,
    tags=("L2", "quantize"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with per-row
    reconstruction-error audit: scale = max|x|/127, q = ⌊x/scale + ½⌋,
    and the emitted max-abs / mean-squared reconstruction errors are
    what a serving pipeline monitors before swapping the fp32 index for
    the 4x-smaller int8 one.

    Everything is per-row array arithmetic — zero shuffle, scan-speed.
    ⌊r+½⌋ is used instead of round() because the two engines disagree on
    round()'s tie rule (HALF_UP vs half-away) while floor over identical
    doubles is bit-deterministic; the division guard (max|x| clamped to
    1e-12) keeps zero vectors finite in both engines. Hash-gated: scale,
    quantized values, and both error metrics match DuckDB bit-for-bit
    (same left-fold arithmetic as the cosine family)."""
    e = load(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, F.abs))
    scale = F.greatest(amax, F.lit(1e-12)) / F.lit(float(QUANT_LEVELS))
    df = e.select("vec_id", "label", x.alias("x"), scale.alias("scale"))
    deq = F.transform(
        "x", lambda v: F.floor(v / F.col("scale") + F.lit(0.5))
        .cast("double") * F.col("scale"))
    df = df.withColumn("diff", F.zip_with("x", deq, lambda a, b: a - b))
    mse = F.aggregate(
        F.zip_with("diff", "diff", lambda a, b: a * b),
        F.lit(0.0), lambda acc, v: acc + v,
    ) / F.size("diff")
    return df.select(
        "vec_id", "label", "scale",
        F.array_max(F.transform("diff", F.abs)).alias("max_abs_err"),
        mse.alias("mse"),
    )


# ---- ANN quality audit ---------------------------------------------------

_RECALL_ORACLE = f"""
WITH ivf AS ({_IVF_ORACLE}
), {UNIT_ORACLE}, bf AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (
             PARTITION BY q_id
             ORDER BY list_inner_product(q_nv, c_nv) DESC, c_id) AS rn
    FROM q CROSS JOIN c
  ) WHERE rn <= {TOP_K}
)
SELECT bf.q_id,
       CAST(SUM(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / {TOP_K} AS recall_at_k
FROM bf
LEFT JOIN ivf i ON i.q_id = bf.q_id AND i.c_id = bf.c_id
GROUP BY bf.q_id
"""


def _recall_oracle(sf_dir: str) -> str:
    """Recall-audit oracle specialized to ``sf_dir`` (embeds the IVF
    template, so it carries the same staged-centroid path)."""
    return _RECALL_ORACLE.replace("__CENT_DIR__",
                                  staging.path("ivf_centroids", sf_dir))


@query("q_sim_recall_ivf", oracle=_recall_oracle, tags=("L2", "audit"))
def q_sim_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY AUDIT: recall@{TOP_K} of the IVF index against the
    exact brute-force neighbors, per probe query — the metric that
    decides whether an approximate index is shippable at all. Composes
    the two existing L2 paths (q_sim_topk ∩ q_sim_topk_ivf membership)
    and is deterministic end to end, so the oracle mirrors the exact
    per-query hit counts, not just an aggregate.

    At 100 TB this is the periodic index-health job: brute force runs on
    a sampled probe set (here: the harness's {N_QUERIES} probes) while
    the index serves everything else — recall is always measured on a
    sample, never the full corpus, so the audit's all-pairs stage stays
    bounded by the probe sample size."""
    ivf = q_sim_topk_ivf(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("hit"))
    bf = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        bf.join(ivf, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(n_hits.cast("bigint").alias("n_hits"),
             (n_hits.cast("double") / TOP_K).alias("recall_at_k"))
    )


# ---- IVF-PQ: cell-pruned ANN over quantization codes ---------------------

ADC_SHORTLIST = 60  # PQ-approximate shortlist reranked exactly per query

_IVFPQ_ORACLE = f"""
WITH cent AS (
  SELECT cell_id, cent_vec
  FROM read_parquet('__CENT_DIR__/*.parquet')
), {UNIT_ORACLE}, lab AS (
  SELECT vec_id AS c_id, label FROM embeddings
  WHERE vec_id >= {N_QUERIES}
), cex AS (
  SELECT c_id, CAST(u.pos AS INTEGER) AS pos, CAST(u.x AS DOUBLE) AS x
  FROM (
    SELECT c_id,
           unnest(list_transform(
             range(1, len(c_nv) + 1),
             i -> struct_pack(pos := i, x := c_nv[i]))) AS u
    FROM c)
), cb AS (
  SELECT lab.label AS c_label,
         CAST((cex.pos - 1) // {EMB_DIM // PQ_SUBS} AS INTEGER) AS sub, cex.pos,
         CAST(SUM(CAST(cex.x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(cex.x)
           AS centroid
  FROM cex JOIN lab ON cex.c_id = lab.c_id
  GROUP BY lab.label, 2, cex.pos
), codes AS (
  SELECT c_id, sub, c_label AS code FROM (
    SELECT d.c_id, d.sub, d.c_label,
           ROW_NUMBER() OVER (
             PARTITION BY d.c_id, d.sub
             ORDER BY d.dist2, d.c_label) AS rn
    FROM (
      SELECT cex.c_id, cb.sub, cb.c_label,
             CAST(SUM(CAST((cex.x - cb.centroid) * (cex.x - cb.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM cex JOIN cb ON cex.pos = cb.pos
      GROUP BY cex.c_id, cb.sub, cb.c_label
    ) d
  ) WHERE rn = 1
), qex AS (
  SELECT q_id, CAST(u.pos AS INTEGER) AS pos, CAST(u.x AS DOUBLE) AS x
  FROM (
    SELECT q_id,
           unnest(list_transform(
             range(1, len(q_nv) + 1),
             i -> struct_pack(pos := i, x := q_nv[i]))) AS u
    FROM q)
), lut AS (
  SELECT qex.q_id, cb.sub, cb.c_label,
         CAST(SUM(CAST((qex.x - cb.centroid) * (qex.x - cb.centroid)
                       AS DECIMAL(20,6))) AS DOUBLE) AS dist2
  FROM qex JOIN cb ON qex.pos = cb.pos
  GROUP BY qex.q_id, cb.sub, cb.c_label
), assigned AS (
  SELECT c_id, cell_id FROM (
    SELECT c.c_id, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.c_id
             ORDER BY list_inner_product(c.c_nv, ct.cent_vec) DESC,
                      ct.cell_id) AS rn
    FROM c CROSS JOIN cent ct
  ) WHERE rn = 1
), probe AS (
  SELECT q_id, cell_id FROM (
    SELECT q.q_id, ct.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.q_id
             ORDER BY list_inner_product(q.q_nv, ct.cent_vec) DESC,
                      ct.cell_id) AS rn
    FROM q CROSS JOIN cent ct
  ) WHERE rn <= {NPROBE}
), pairs AS (
  SELECT p.q_id, a.c_id FROM probe p JOIN assigned a USING (cell_id)
), adist AS (
  SELECT pr.q_id, pr.c_id,
         CAST(SUM(CAST(l.dist2 AS DECIMAL(20,6))) AS DOUBLE) AS adist
  FROM pairs pr
  JOIN codes cd ON pr.c_id = cd.c_id
  JOIN lut l ON l.q_id = pr.q_id AND l.sub = cd.sub
            AND l.c_label = cd.code
  GROUP BY pr.q_id, pr.c_id
), short AS (
  SELECT q_id, c_id, adist FROM (
    SELECT q_id, c_id, adist,
           ROW_NUMBER() OVER (
             PARTITION BY q_id ORDER BY adist, c_id) AS rn
    FROM adist
  ) WHERE rn <= {ADC_SHORTLIST}
)
SELECT q_id, c_id, adist, cos_sim, rank FROM (
  SELECT s.q_id, s.c_id, s.adist,
         list_inner_product(q.q_nv, c.c_nv) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY s.q_id
           ORDER BY list_inner_product(q.q_nv, c.c_nv) DESC, s.c_id)
           AS rank
  FROM short s
  JOIN q ON s.q_id = q.q_id
  JOIN c ON s.c_id = c.c_id
) WHERE rank <= {TOP_K}
"""


def _ivfpq_oracle(sf_dir: str) -> str:
    """IVF-PQ oracle specialized to ``sf_dir``'s staged centroids."""
    return _IVFPQ_ORACLE.replace("__CENT_DIR__",
                                 staging.path("ivf_centroids", sf_dir))


@query("q_sim_topk_ivfpq", oracle=_ivfpq_oracle, tags=("L2", "pq"))
def q_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the full production composition: coarse quantization
    prunes to nprobe cells (q_sim_topk_ivf's trained centroids), PRODUCT
    QUANTIZATION codes stand in for vectors inside the probed cells
    (asymmetric-distance scoring against a per-query lookup table — the
    classic ADC scan that reads 4 sub-codes where exact scoring reads
    64 floats), and the PQ shortlist is reranked exactly. FAISS's
    IVFPQ + refine pipeline, as one Catalyst plan, oracle-gated end to
    end. Measured recall@10 vs the exact scorer at sf0.01: 0.38 (the
    probed-cells ceiling — plain IVF with the same nprobe — is 0.46;
    the gap is the ADC shortlist, and this corpus is the documented
    adversarial near-random one where q_sim_recall_ivf already audits
    the cell-pruning loss).

    Scale economics: the ADC LUT is (n_queries x subs x codewords) rows
    — broadcast-sized regardless of corpus size; in-cell scoring joins
    codes (ints), not vectors, so the memory-bound scan touches
    {'{'}PQ_SUBS{'}'} bytes-per-vector of index instead of the raw
    embeddings; exact vectors are fetched only for the
    {ADC_SHORTLIST}-deep shortlist. All distance sums are exact-decimal
    (grid values survive every double<->decimal round trip); both
    argmins and both rankings carry total orders."""
    from ..compat import q as qdec

    width = EMB_DIM // PQ_SUBS
    queries, corpus, centroids = _ivf_parts(spark, sf_dir)
    lab = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), "label")

    def exploded(df, id_col, vec_col):
        return df.select(
            id_col, F.posexplode(vec_col).alias("pos0", "x")
        ).select(id_col, (F.col("pos0") + 1).alias("pos"),
                 F.col("x").cast("double").alias("x"))

    cex = exploded(corpus, "c_id", "c_vec")
    # Sub-codebooks over the NORMALIZED corpus (per-label sub-means) —
    # k x dim rows. Staged like the IVF centroids, with the embeddings
    # as declared input: the codebook is a deterministic index-build
    # artifact, so repeat calls pay serve cost, not train cost (bench
    # reps / repeated probes). Read with the writer's schema: an empty
    # corpus stages zero rows.
    def build_codebook(path: str) -> None:
        (cex.join(lab, "c_id")
         .groupBy(F.col("label").alias("c_label"),
                  ((F.col("pos") - 1) / width).cast("int").alias("sub"),
                  "pos")
         .agg((F.sum(qdec("x")).cast("double") / F.count("x"))
              .alias("centroid"))
         .coalesce(1).write.mode("overwrite").parquet(path))

    cb = read_staged(spark, staging.stage(
        "pq_codebook", sf_dir, build_codebook,
        code=(q_sim_topk_ivfpq,) + _CENTROID_CODE, inputs=("embeddings",),
        extra=f"{_DIM}|subs={PQ_SUBS}"),
        "c_label int, sub int, pos int, centroid double")
    term = (F.col("x") - F.col("centroid")) \
        * (F.col("x") - F.col("centroid"))
    # The corpus CODES are the index payload itself ({PQ_SUBS} ints per
    # vector) — in FAISS terms the IVFPQ inverted lists. Like the
    # trained centroids/codebook they are a deterministic BUILD artifact
    # (argmin carries a total order), so they stage to parquet once per
    # sf and every later probe reads 4-int codes instead of
    # re-running the explode + codebook-distance aggregation over the
    # whole corpus — the serve-vs-build split a real ANN index has.
    def build_codes(path: str) -> None:
        wcode = Window.partitionBy("c_id", "sub").orderBy(
            "dist2", "c_label")
        (cex.join(F.broadcast(cb), "pos")
         .groupBy("c_id", "sub", "c_label")
         .agg(F.sum(qdec(term)).cast("double").alias("dist2"))
         .withColumn("rn", F.row_number().over(wcode))
         .where(F.col("rn") == 1)
         .select("c_id", "sub", F.col("c_label").alias("code"))
         .write.mode("overwrite").parquet(path))

    codes_path = staging.stage(
        "pq_codes", sf_dir, build_codes,
        code=(q_sim_topk_ivfpq,) + _CENTROID_CODE, inputs=("embeddings",),
        extra=f"{_DIM}|subs={PQ_SUBS}")
    codes = read_staged(spark, codes_path)
    qex = exploded(queries, "q_id", "q_vec")
    lut = (
        qex.join(F.broadcast(cb), "pos")
        .groupBy("q_id", "sub", "c_label")
        .agg(F.sum(qdec(term)).cast("double").alias("dist2"))
    )
    # Cell membership is the other half of the inverted-list index
    # (deterministic max_by with a total order) — staged with the codes
    # so a probe never re-scores corpus x centroids.
    def build_assign(path: str) -> None:
        ivf_assign(corpus, centroids).select("c_id", "cell_id") \
            .write.mode("overwrite").parquet(path)

    assign_path = staging.stage(
        "pq_assign", sf_dir, build_assign,
        code=(ivf_assign,) + _CENTROID_CODE, inputs=("embeddings",),
        extra=_DIM)
    assigned = read_staged(spark, assign_path)
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cent_sim"), F.asc("cell_id"))
    probe = (
        queries.crossJoin(F.broadcast(centroids))
        .select("q_id", "cell_id",
                dot("q_vec", "cent_vec").alias("cent_sim"))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= NPROBE)
        .select("q_id", "cell_id")
    )
    pairs = probe.join(assigned, "cell_id").select("q_id", "c_id")
    adist = (
        pairs.join(codes, "c_id")
        .join(F.broadcast(lut), ["q_id", "sub"])
        .where(F.col("c_label") == F.col("code"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("dist2").cast("decimal(18,6)")).cast("double")
             .alias("adist"))
    )
    wshort = Window.partitionBy("q_id").orderBy("adist", "c_id")
    short = (
        adist.withColumn("rn", F.row_number().over(wshort))
        .where(F.col("rn") <= ADC_SHORTLIST)
        .select("q_id", "c_id", "adist")
    )
    wrank = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("c_id"))
    return (
        short.join(queries, "q_id")
        .join(corpus, "c_id")
        .select("q_id", "c_id", "adist",
                dot_idx("q_vec", "c_vec").alias("cos_sim"))
        .withColumn("rank", F.row_number().over(wrank))
        .where(F.col("rank") <= TOP_K)
    )


@query(
    "q_embed_audit",
    oracle="""
    WITH v AS (
      SELECT label,
             CAST(len(embedding) AS INT) AS dim,
             CAST(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                  AS DECIMAL(18,6)) AS nq
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           MIN(dim) AS dim_min,
           MAX(dim) AS dim_max,
           CAST(SUM(CASE WHEN nq = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(SUM(CASE WHEN isnan(CAST(nq AS DOUBLE))
                           OR NOT isfinite(CAST(nq AS DOUBLE))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
           CAST(MIN(nq) AS DOUBLE) AS norm_min,
           CAST(MAX(nq) AS DOUBLE) AS norm_max,
           CAST(SUM(nq) AS DOUBLE) / COUNT(*) AS norm_mean
    FROM v
    GROUP BY label
    """,
    tags=("L2", "audit", "embedding"),
)
def q_embed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE HEALTH AUDIT, per label: vector counts, dimension
    consistency (a ragged column breaks every fold downstream), zero
    vectors (cosine is undefined on them — normalized() guards, this
    counts), non-finite norms, and the norm distribution (min/max/mean)
    — the preflight every ANN/dedup/clustering stage should gate on
    before trusting a new embedding batch. Norms are the repo's
    fold-dot + IEEE sqrt (engine-exact), quantized to the 6-dp grid
    BEFORE aggregation (compat rule 2: sqrt is correctly rounded, but
    the SUM of norms must be order-insensitive). Pure per-row HOF math
    + one hash agg: zero shuffle beyond the (label)-keyed aggregate."""
    from ..compat import QDEC

    e = load(spark, sf_dir, "embeddings")
    nq = F.sqrt(dot("embedding", "embedding")).cast(QDEC)
    v = e.select(
        "label",
        F.size("embedding").cast("int").alias("dim"),
        nq.alias("nq"))
    nd = F.col("nq").cast("double")
    return (
        v.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
             F.min("dim").alias("dim_min"),
             F.max("dim").alias("dim_max"),
             F.sum(F.when(F.col("nq") == 0, 1).otherwise(0))
             .cast("bigint").alias("n_zero"),
             F.sum(F.when(F.isnan(nd) | ~nd.between(
                 float("-1e308"), float("1e308")), 1).otherwise(0))
             .cast("bigint").alias("n_nonfinite"),
             F.min("nq").cast("double").alias("norm_min"),
             F.max("nq").cast("double").alias("norm_max"),
             (F.sum("nq").cast("double") / F.count(F.lit(1)))
             .alias("norm_mean"))
    )


# ---- kNN label classification (L2k) --------------------------------------------


@query(
    "q_sim_knn_classify",
    oracle=f"""
    WITH {UNIT_ORACLE}, topk AS (
      SELECT q_id, c_id, label FROM (
        SELECT q_id, c_id, e.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q_id
                 ORDER BY list_inner_product(q_nv, c_nv) DESC, c_id)
                 AS rank
        FROM q CROSS JOIN c
        JOIN embeddings e ON e.vec_id = c_id
      ) WHERE rank <= {TOP_K}
    ), votes AS (
      SELECT q_id, label, COUNT(*) AS v FROM topk GROUP BY q_id, label
    )
    SELECT q_id,
           CAST(label AS INT) AS pred_label,
           CAST(v AS BIGINT) AS votes,
           CAST(CAST(v AS DOUBLE) / {TOP_K} AS DOUBLE) AS vote_share
    FROM (
      SELECT q_id, label, v,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY v DESC, label) AS r
      FROM votes
    ) WHERE r = 1
    """,
    tags=("L2k", "similarity", "knn"),
)
def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN LABEL CLASSIFICATION: each probe vector takes the MAJORITY
    label of its {TOP_K} exact cosine neighbors (tie → smaller label,
    a total order) — the zero-training classifier every embedding
    space gets evaluated with first, and the serving pattern behind
    "label this new document by its nearest labeled neighbors". The
    whole L2 family becomes actionable here: swap the brute-force
    neighbor relation for the staged IVF probe and the vote is the
    production path.

    Scale: the corpus never shuffles (broadcast probes — the
    topk_bruteforce posture); the vote is a {TOP_K}·n_probes-row
    aggregate. Exact integer votes; one IEEE share division."""
    e = load(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    topk = topk_bruteforce(queries, corpus)
    labels = e.select(F.col("vec_id").alias("c_id"), "label")
    votes = (topk.join(labels, "c_id")
             .groupBy("q_id", "label")
             .agg(F.count(F.lit(1)).alias("v")))
    w = Window.partitionBy("q_id").orderBy(F.desc("v"), F.asc("label"))
    return (votes.withColumn("r", F.row_number().over(w))
            .where(F.col("r") == 1)
            .select("q_id",
                    F.col("label").cast("int").alias("pred_label"),
                    F.col("v").cast("bigint").alias("votes"),
                    (F.col("v").cast("double") / TOP_K)
                    .alias("vote_share")))


# ---- Maximum-inner-product top-k (L2m) --------------------------------------


@query(
    "q_sim_mips",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_v
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), c AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS c_v
      FROM embeddings WHERE vec_id >= {N_QUERIES}
    ), scored AS (
      SELECT q_id, c_id, list_inner_product(q_v, c_v) AS score
      FROM q CROSS JOIN c
    )
    SELECT q_id, c_id, score, rank FROM (
      SELECT q_id, c_id, score,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY score DESC, c_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
    tags=("L2m", "similarity", "mips"),
)
def q_sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM-INNER-PRODUCT top-{TOP_K} for the probe set — the
    RECOMMENDER retrieval primitive (user·item affinity scores are raw
    dot products; a popular long item SHOULD outrank a similar short
    one), deliberately distinct from q_sim_topk's cosine: cosine
    normalizes magnitude away, MIPS keeps it, and conflating the two
    is the classic vector-serving bug. The engine keeps this exact
    brute-force member as the MIPS exactness anchor; at index scale
    MIPS reduces to cosine by the standard asymmetric augmentation
    (append sqrt(M²−|x|²) to items, 0 to queries — then the L2
    IVF/PQ machinery serves it unchanged), which is how a 100 TB
    deployment would route it.

    Same plan shape as q_sim_topk: broadcast probes, the corpus never
    shuffles, per-probe rank windows over probe-partitioned scores,
    (score DESC, c_id) total order; the left-fold dot product is
    bit-equal to list_inner_product (the L2 family's proven
    construction) with NO normalization pass."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_v"))
    c = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_v"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id", "c_id", dot("q_v", "c_v").alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K))


# ---- Exact cosine radius search (L2o) ---------------------------------------

RADIUS_TAU = 0.25  # dyadic literal: bit-identical as double in both engines


@query(
    "q_sim_radius",
    oracle=f"""
    WITH {UNIT_ORACLE}
    SELECT q_id, c_id,
           list_inner_product(q_nv, c_nv) AS cos_sim
    FROM q CROSS JOIN c
    WHERE list_inner_product(q_nv, c_nv) >= {RADIUS_TAU}
    ORDER BY q_id, c_id
    """,
    tags=("L2o", "similarity", "radius"),
)
def q_sim_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COSINE RADIUS SEARCH: every corpus vector within
    cos ≥ {RADIUS_TAU} of each probe — the RANGE-QUERY member of the
    similarity family (top-k answers "the 10 nearest whatever their
    quality"; radius answers "everything actually similar", the shape
    semantic dedup, near-duplicate retrieval, and RAG filtering
    actually want when match COUNT is unknown a priori). Unlike top-k
    the result size is data-driven, so the per-probe match count is
    the capacity signal an index planner reads before choosing k.

    Exactness: the same bit-equal normalized-dot construction as
    q_sim_topk (one engine-identical fold per pair), and the threshold
    {RADIUS_TAU} is dyadic — no float literal can straddle the engines
    (r8 lesson). Scale: corpus never shuffles (probes broadcast,
    threshold applied task-side so only matches leave the scan);
    output bounded by the match set, no window, no sort at the fact
    grain. The IVF-pruned variant of this predicate is the staged
    index's cell filter; this exact form is its recall anchor."""
    e = load(spark, sf_dir, "embeddings")
    qn = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        normalized("embedding").alias("q_nv"))
    cn = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"),
        normalized("embedding").alias("c_nv"))
    return (cn.crossJoin(F.broadcast(qn))
            .select("q_id", "c_id",
                    dot("q_nv", "c_nv").alias("cos_sim"))
            .where(F.col("cos_sim") >= RADIUS_TAU)
            .orderBy("q_id", "c_id"))
