"""Embedding clustering (SURVEY.md §2.11 L2 scale path).

The reference has no vector operations at all (its snapshot is a DuckDB
ETL app, reference README.md:7); these are north-star LLM-pipeline
operators mandated by BASELINE.json. Clustering is the building block
behind IVF indexing (``similarity.py``), corpus diversity sampling, and
semantic dedup: compute k centroids, assign every vector to its nearest
one. Here k = the label cardinality and seeding is the per-label mean, so
both steps are exactly mirrorable in the DuckDB oracle (a k-means E-step
with deterministic M-step seeding) — the iterative variant just repeats
these two plans.

Scale posture (100 TB):
- Centroids are tiny (k × dim rows) — computed with one partial+final
  aggregation over the exploded components, then implicitly broadcast to
  the assignment join (Catalyst auto-broadcasts the k×dim side; the
  vector relation never shuffles for the join, only for the final
  per-vector argmin aggregation which carries k rows per vector).
- All arithmetic is codegen'd Column expressions; floats go through the
  compat.py decimal-quantization so a 1000-executor sum reproduces the
  single-node answer bit-for-bit (and matches DuckDB with no tolerance).
- The exploded-component form trades 64× row inflation for pure
  hash-aggregation — no Python, no UDF, map-side partial aggregation
  shrinks it back to k×dim before the shuffle. The array-fold form
  (``F.aggregate`` over ``zip_with``) halves memory but is not
  oracle-mirrorable term-for-term; at cluster scale either works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import QDEC, q
from ..io import load
from ..kernels import dense_rows, dense_width
from ..materialize import share
from ..registry import query
from .similarity import (EMB_DIM, N_QUERIES, PQ_SUBS, TOP_K, UNIT_ORACLE,
                         q_sim_topk)

# Exploded (vec_id, label, pos, x) view of the embeddings table, shared
# by both queries; pos is 1-based to match the DuckDB mirror.
_ORACLE_EXPLODED = """
    ex AS (
      SELECT vec_id, label, u.pos AS pos, CAST(u.x AS DOUBLE) AS x
      FROM (
        SELECT vec_id, label,
               unnest(list_transform(
                 range(1, len(embedding) + 1),
                 i -> struct_pack(pos := i, x := embedding[i]))) AS u
        FROM embeddings)
    )"""

_ORACLE_CENTROIDS = """
    cent AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(x)
               AS centroid
      FROM ex GROUP BY label, pos
    )"""


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id", "label",
        (F.col("pos") + 1).alias("pos"),
        F.col("x").cast("double").alias("x"),
    )


def _centroids(ex: DataFrame) -> DataFrame:
    """Per-label mean vector in exploded form: exact decimal sum over the
    quantized components, one double division — order- and
    partitioning-independent (compat.py convention)."""
    return ex.groupBy(F.col("label").alias("c_label"), "pos").agg(
        (F.sum(q("x")).cast("double") / F.count("x")).alias("centroid")
    )


@query(
    "q_cluster_centroids",
    oracle=f"""
    WITH {_ORACLE_EXPLODED}
    SELECT label, pos,
           CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(x)
             AS centroid,
           COUNT(*) AS n_vecs
    FROM ex
    GROUP BY label, pos
    """,
    tags=("L2", "clustering"),
)
def q_cluster_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors (k-means M-step /
    class prototypes): explode components, exact-decimal mean per
    (label, dimension). One partial+final hash aggregation; output is
    k×dim rows regardless of corpus size."""
    ex = _exploded(spark, sf_dir)
    return ex.groupBy("label", "pos").agg(
        (F.sum(q("x")).cast("double") / F.count("x")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "q_cluster_assign",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    {_ORACLE_CENTROIDS},
    d AS (
      SELECT ex.vec_id, ex.label, cent.c_label,
             CAST(SUM(CAST((ex.x - cent.centroid) * (ex.x - cent.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM ex JOIN cent ON ex.pos = cent.pos
      GROUP BY ex.vec_id, ex.label, cent.c_label
    ),
    r AS (
      SELECT vec_id, label, c_label, dist2,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
      FROM d
    )
    SELECT vec_id, label, c_label AS assigned_label, dist2
    FROM r WHERE rn = 1
    """,
    tags=("L2", "clustering"),
)
def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (k-means E-step / prototype
    classifier): squared L2 distance from every vector to every label
    centroid, keep the argmin (ties broken by centroid label — total
    ordering, engine-independent). Per-term decimal quantization makes
    the distance sums bit-identical across engines and partitionings.
    The centroid side is k×dim rows — broadcast; the per-vector argmin
    is a k-row window per vector after aggregation."""
    ex = _exploded(spark, sf_dir)
    cent = _centroids(ex)
    term = (F.col("x") - F.col("centroid")) * (F.col("x") - F.col("centroid"))
    d = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(q(term)).cast("double").alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "label",
                F.col("c_label").alias("assigned_label"), "dist2")
    )


def _assign(ex: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid label per vector (shared E-step)."""
    term = (F.col("x") - F.col("centroid")) * (F.col("x") - F.col("centroid"))
    d = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "c_label")
        .agg(F.sum(q(term)).cast("double").alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "c_label")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("c_label").alias("assigned"))
    )


@query(
    "q_cluster_kmeans_step",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    {_ORACLE_CENTROIDS},
    d AS (
      SELECT ex.vec_id, cent.c_label,
             CAST(SUM(CAST((ex.x - cent.centroid) * (ex.x - cent.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM ex JOIN cent ON ex.pos = cent.pos
      GROUP BY ex.vec_id, cent.c_label
    ),
    a AS (
      SELECT vec_id, c_label AS assigned
      FROM (SELECT vec_id, c_label, ROW_NUMBER() OVER (
              PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
            FROM d)
      WHERE rn = 1
    )
    SELECT a.assigned AS cluster, ex.pos,
           CAST(SUM(CAST(ex.x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(ex.x)
             AS centroid,
           COUNT(DISTINCT ex.vec_id) AS n_vecs
    FROM ex JOIN a ON ex.vec_id = a.vec_id
    GROUP BY a.assigned, ex.pos
    """,
    tags=("L2", "clustering"),
)
def q_cluster_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full k-means refinement iteration: seed centroids from the
    per-label means, reassign every vector to its nearest centroid
    (E-step), recompute centroids over the new assignment (M-step).
    The iterative algorithm is this plan in a loop (with
    ``share`` truncating lineage each round, exactly as the
    connected-components loop in ``incremental.py`` does); one
    oracle-gated iteration proves both steps bit-exact, which is the
    part a recursive oracle can't check cheaply. Per iteration: the
    corpus shuffles once for the assignment argmin and once for the
    (cluster, pos) re-aggregation — centroids stay broadcast-sized
    throughout."""
    ex = _exploded(spark, sf_dir)
    assign = _assign(ex, _centroids(ex))
    return (
        ex.join(assign, "vec_id")
        .groupBy(F.col("assigned").alias("cluster"), "pos")
        .agg(
            (F.sum(q("x")).cast("double") / F.count("x")).alias("centroid"),
            F.countDistinct("vec_id").alias("n_vecs"),
        )
    )


# ---- Covariance / PCA prep ----------------------------------------------

# Covariance sufficient-statistic CTEs (e -> comp -> s), shared verbatim
# by the q_embed_cov oracle and the power-iteration oracle so the PCA
# mirror consumes the exact audited covariance text.
_ORACLE_COV_STATS = f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), comp AS (
      SELECT e.vec_id,
             CAST(gi.i - 1 AS INTEGER) AS i,
             CAST(gj.i - 1 AS INTEGER) AS j,
             CAST(e.v[CAST(gi.i AS INTEGER)] AS DECIMAL(20,9)) AS xi,
             CAST(e.v[CAST(gj.i AS INTEGER)] AS DECIMAL(20,9)) AS xj
      FROM e, range(1, {EMB_DIM + 1}) gi(i), range(1, {EMB_DIM + 1}) gj(i)
      WHERE gj.i >= gi.i
    ), s AS (
      SELECT i, j, COUNT(*) AS n,
             CAST(SUM(xi) AS DOUBLE) AS si,
             CAST(SUM(xj) AS DOUBLE) AS sj,
             CAST(SUM(CAST(xi * xj AS DECIMAL(38,18))) AS DOUBLE) AS sij
      FROM comp GROUP BY i, j
    )"""


def _embed_cov_jvm(e: DataFrame) -> DataFrame:
    """The r1–r15 double-explode covariance accumulator — kept as the
    fallback for irregular inputs (ragged widths, null elements,
    non-finite or out-of-range components, where the explode/decimal
    NULL semantics are authoritative) and as the reference the Arrow
    path is property-tested bit-equal against."""
    ex = e.select(
        "vec_id", F.col("embedding").alias("v"),
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("i", "xi_raw"))
    pairs = ex.select(
        "vec_id", "i", F.col("xi_raw").cast("decimal(20,9)").alias("xi"),
        F.posexplode(F.col("v").cast("array<double>")).alias("j", "xj_raw"),
    ).where(F.col("j") >= F.col("i"))
    s = (
        pairs.select("i", "j", "xi",
                     F.col("xj_raw").cast("decimal(20,9)").alias("xj"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("xi").cast("double").alias("si"),
             F.sum("xj").cast("double").alias("sj"),
             F.sum((F.col("xi") * F.col("xj")).cast("decimal(38,18)"))
             .cast("double").alias("sij"))
    )
    return _cov_finish(s)


def _cov_finish(s: DataFrame) -> DataFrame:
    n = F.col("n")
    cov = (F.col("sij") - F.col("si") * F.col("sj") / n) / (n - F.lit(1))
    # coalesce pins i/j NON-NULLABLE (the declared result schema): the
    # Arrow path's groupBy keys arrive nullable from the mapInArrow
    # schema though never null in fact; value-neutral on both paths.
    return s.select(
        F.coalesce(F.col("i").cast("int"), F.lit(0)).alias("i"),
        F.coalesce(F.col("j").cast("int"), F.lit(0)).alias("j"),
        n.cast("bigint").alias("n_vecs"),
        cov.cast("decimal(18,9)").cast("double").alias("cov"),
    )


# Bound for the fixed-point fast path's regularity gate
# (kernels.dense_width / dense_rows): |x| < _COV_ABS_MAX keeps the
# scale-9 integer within 2^34 so every split product stays exact in
# int64 (overflow proof in _cov_partials).
_COV_ABS_MAX = 16.0
_COV_CHUNK = 1 << 18  # rows per int64 Gram chunk: 2^18 * 2^34 = 2^52


def _scale9_int64(V):
    """Spark's CAST(double AS DECIMAL(20,9)) as an exact int64 of
    scale-9 units, vectorized — for float32-widened inputs with
    |x| < _COV_ABS_MAX.

    Exactness: a float32 significand is 24 bits and 1e9 = 5^9·2^9 needs
    21 significand bits, so y = x·1e9 is a ≤45-bit product — exactly
    representable, and numpy's correctly-rounded multiply returns it
    exactly. HALF_UP (away from zero, the JVM BigDecimal.setScale mode)
    then rounds the exact y: floor/ceil and the fractional remainders
    are all exact at this width. Spark's double→decimal goes through
    Double.toString, which is value-equivalent for these exact y."""
    import numpy as np

    y = V * 1e9
    f = np.floor(y)
    up = f + ((y - f) >= 0.5)
    c = np.ceil(y)
    dn = c - ((c - y) >= 0.5)
    return np.where(y >= 0, up, dn).astype(np.int64)


def _cov_partials(batches):
    """mapInArrow worker: per-partition exact sufficient statistics for
    the covariance accumulator (guide §4.2 — whole batches to native
    code; §2.3 — the shuffle carries dim²/2 partial rows, not the
    dim²/2·n component pairs the explode shipped to the partial
    aggregate's hash table).

    Integer arithmetic end to end: X = scale-9 int64 components
    (|X| < 2^34 by the regularity gate); the Gram matrix XᵀX would
    overflow int64, so X splits as A·2^17 + B (A = floor-shift, so
    |A| ≤ 2^17, 0 ≤ B < 2^17) and XᵀX = (AᵀA)·2^34 + (AᵀB+BᵀA)·2^17
    + BᵀB, where every int64 matmul entry is bounded by
    rows_per_chunk·2^34 ≤ 2^52 (chunked at 2^18 rows) — exact, no
    wraparound. Chunk matrices fold into arbitrary-precision Python
    ints, so partition totals are exact integers of scale 18, emitted
    as Arrow decimal128(38,18) — the same type the explode path's
    per-pair products summed, so Spark's final decimal sums and the
    double casts are value-identical."""
    import pyarrow as _pa
    from decimal import Decimal as _D

    dim = None
    n_rows = 0
    si_tot = None
    gaa = gab = gbb = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        V = dense_rows(batch.column("embedding"), dim, _COV_ABS_MAX)
        if dim is None:
            dim = V.shape[1]
            si_tot = [0] * dim
            z = [[0] * dim for _ in range(dim)]
            gaa = [r[:] for r in z]
            gab = [r[:] for r in z]
            gbb = [r[:] for r in z]
        X = _scale9_int64(V)
        for s in range(0, X.shape[0], _COV_CHUNK):
            xc = X[s:s + _COV_CHUNK]
            a = xc >> 17
            b = xc - (a << 17)
            caa = a.T @ a
            cab = a.T @ b + b.T @ a
            cbb = b.T @ b
            csum = xc.sum(axis=0)
            for i in range(dim):
                si_tot[i] += int(csum[i])
                for j in range(i, dim):
                    gaa[i][j] += int(caa[i, j])
                    gab[i][j] += int(cab[i, j])
                    gbb[i][j] += int(cbb[i, j])
        n_rows += V.shape[0]
    if not n_rows:
        return
    ii, jj, nn, si, sj, sij = [], [], [], [], [], []
    for i in range(dim):
        for j in range(i, dim):
            t = (gaa[i][j] << 34) + (gab[i][j] << 17) + gbb[i][j]
            ii.append(i)
            jj.append(j)
            nn.append(n_rows)
            si.append(_D(si_tot[i]).scaleb(-9))
            sj.append(_D(si_tot[j]).scaleb(-9))
            sij.append(_D(t).scaleb(-18))
    yield _pa.RecordBatch.from_arrays(
        [_pa.array(ii, _pa.int32()), _pa.array(jj, _pa.int32()),
         _pa.array(nn, _pa.int64()),
         _pa.array(si, _pa.decimal128(20, 9)),
         _pa.array(sj, _pa.decimal128(20, 9)),
         _pa.array(sij, _pa.decimal128(38, 18))],
        names=["i", "j", "n", "si", "sj", "sij"])


@query(
    "q_embed_cov",
    oracle=f"""
    WITH {_ORACLE_COV_STATS}
    SELECT i, j, CAST(n AS BIGINT) AS n_vecs,
           CAST(CAST((sij - si * sj / n) / (n - 1)
                AS DECIMAL(18,9)) AS DOUBLE) AS cov
    FROM s
    """,
    tags=("L2b", "pca"),
)
def q_embed_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding COVARIANCE matrix (upper triangle) — the sufficient
    statistic behind PCA whitening, low-rank compression, and drift
    monitoring of an embedding corpus. One row per dimension pair
    (i ≤ j) with the sample covariance from exact-decimal sums.

    Execution: a ``mapInArrow`` accumulator computes the explode
    path's (``_embed_cov_jvm``) sufficient statistics as exact
    scale-9/scale-18 integers (overflow proof in ``_cov_partials``) and
    leaves the decimal sums, the closed form and the 9-dp quantization
    in Spark, so every output double is bit-identical to the explode
    path (property-tested at the raw-bit level). The gate is
    ``kernels.dense_width`` at ``abs_max=_COV_ABS_MAX``, one aggregate
    with nothing collected; a column that is not regular, or an empty
    table, takes the explode path.

    Scale shape: per-partition partials bound the shuffle at
    dim·(dim+1)/2 rows per partition regardless of corpus size — the
    map-side-combine posture of the explode plan, with the component
    pairing done in vectorized native code instead of 2080 generated
    rows per vector. ``dominant_eigenvector`` consumes the result as
    bounded metadata (dim² rows) for the power-iteration PCA step."""
    e = load(spark, sf_dir, "embeddings")
    src = e.select("embedding")
    if dense_width(src, "embedding", abs_max=_COV_ABS_MAX) is None:
        return _embed_cov_jvm(e)
    parts = (src.repartition(spark.sparkContext.defaultParallelism)
             .mapInArrow(_cov_partials,
                         "i int, j int, n bigint, si decimal(20,9), "
                         "sj decimal(20,9), sij decimal(38,18)"))
    s = parts.groupBy("i", "j").agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("si").cast("double").alias("si"),
        F.sum("sj").cast("double").alias("sj"),
        F.sum("sij").cast("double").alias("sij"))
    return _cov_finish(s)


def dominant_eigenvector(cov_rows, dim: int = EMB_DIM,
                         iters: int = 200) -> tuple[list[float], float]:
    """Power iteration on a collected covariance relation (the PCA
    top-component step). The input is BOUNDED METADATA — dim·(dim+1)/2
    rows regardless of corpus size, same driver-side budget as the IVF
    centroid collect — so the O(dim²) matvec loop runs where it belongs.
    Returns (unit eigenvector, eigenvalue estimate λ = vᵀΣv).

    Deterministic: fixed all-ones start, fixed iteration count, plain
    Python arithmetic (no BLAS thread nondeterminism). 200 iterations
    because a random-ish corpus has a thin spectral gap — measured
    residual on the harness fixture: 4.5e-2 @ 20 iters, 1.3e-7 @ 200."""
    m = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        m[r["i"]][r["j"]] = r["cov"]
        m[r["j"]][r["i"]] = r["cov"]
    v = [1.0] * dim
    lam = 0.0
    for _ in range(iters):
        w = [sum(m[i][k] * v[k] for k in range(dim)) for i in range(dim)]
        norm = sum(x * x for x in w) ** 0.5
        if norm == 0.0:
            return v, 0.0
        v = [x / norm for x in w]
        lam = norm
    return v, lam


# ---- In-engine power iteration (distributed PCA step) --------------------

PCA_ROUNDS = 2  # unrolled fixed matvec+normalize rounds (PageRank discipline)

# Quantization for the matvec/normalize chain: covariance components sit
# near 1e-3, so 9 fractional digits (the q_embed_cov convention) keep
# ~6 significant digits through the chain while staying engine-exact.
_PCA_Q = "DECIMAL(18,9)"


def _pca_oracle() -> str:
    """Unrolled power-iteration CTEs over the audited covariance text.

    Per round r: w_r = Σ·v_{r-1} (exact-decimal sum of exact-decimal
    products, 9-dp-quantized), nrm_r = sqrt(Σ w²) (sqrt is IEEE-754
    correctly-rounded in BOTH engines — unlike exp/ln it is not a libm
    drift hazard, compat.py hazard 2 — so it may sit outside the
    quantization), v_r = w_r / nrm_r, 9-dp-quantized.

    Every quantize step is CAST(CAST(x AS DOUBLE) AS DECIMAL(18,9)):
    quantizing the exact DECIMAL sum directly diverges, because the
    structured arithmetic (cov × 0.125) lands sums EXACTLY on 9-dp
    midpoints, where Spark rescales HALF_UP but DuckDB half-to-even
    (measured: 29/64 components off by 1e-9). No IEEE double is exactly
    halfway between two 9-dp decimals ((10k+5)·1e-10 is never dyadic),
    so the through-double detour makes round-to-nearest unambiguous —
    the same reasoning compat.py documents for the 6-dp convention."""
    ctes = [f"""cov AS (
      SELECT i, j, CAST(CAST((sij - si * sj / n) / (n - 1)
                   AS {_PCA_Q}) AS DOUBLE) AS cov
      FROM s
    ), fullm AS (
      SELECT i, j, cov FROM cov
      UNION ALL
      SELECT j AS i, i AS j, cov FROM cov WHERE i < j
    ), v0 AS (
      SELECT CAST(g.i AS INTEGER) AS pos, 0.125 AS vk
      FROM range(0, {EMB_DIM}) g(i)
    )"""]
    for r in range(1, PCA_ROUNDS + 1):
        ctes.append(f"""w{r} AS (
      SELECT f.i AS pos,
             CAST(CAST(CAST(SUM(CAST(f.cov AS {_PCA_Q})
                                * CAST(v.vk AS {_PCA_Q}))
                  AS DOUBLE) AS {_PCA_Q}) AS DOUBLE) AS w
      FROM fullm f JOIN v{r - 1} v ON f.j = v.pos
      GROUP BY f.i
    ), n{r} AS (
      SELECT CAST(CAST(sqrt(CAST(SUM(CAST(w AS {_PCA_Q})
                                     * CAST(w AS {_PCA_Q}))
                   AS DOUBLE)) AS {_PCA_Q}) AS DOUBLE) AS nrm
      FROM w{r}
    ), v{r} AS (
      SELECT pos, CAST(CAST(w / (SELECT nrm FROM n{r}) AS {_PCA_Q})
                  AS DOUBLE) AS vk
      FROM w{r}
    )""")
    return f"""
    WITH {_ORACLE_COV_STATS}, {', '.join(ctes)}
    SELECT pos, vk AS component,
           (SELECT nrm FROM n{PCA_ROUNDS}) AS eigenvalue
    FROM v{PCA_ROUNDS}
    """


@query("q_embed_pca_power", oracle=_pca_oracle(), tags=("L2d", "pca"))
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component estimate computed ENTIRELY in the engine:
    {PCA_ROUNDS} unrolled power-iteration rounds on the covariance
    relation (matvec = join + exact-decimal hash aggregation, normalize
    = 1-row norm relation crossJoined back — no driver-side matrix, the
    distributed twin of ``dominant_eigenvector``). Output: the unit
    direction after {PCA_ROUNDS} rounds plus the eigenvalue estimate
    λ ≈ ‖Σ·v‖ from the final matvec.

    Scale: the corpus is touched ONCE (covariance sufficient statistic,
    one partial+final aggregation); every round after that operates on
    the dim² = {EMB_DIM}² covariance relation — bounded metadata, all
    joins auto-broadcast, so iteration cost is independent of corpus
    size. More rounds = appending CTEs, not rescanning data. sqrt and
    division are IEEE-correctly-rounded (identical across engines);
    only sums are decimal-quantized (compat.py hazard 1)."""
    # The covariance relation feeds both union branches and every
    # unrolled round; share it (dim^2 bounded rows) so the corpus
    # parquet is scanned ONCE — without it the round unrolling
    # re-expands the scan subtree 2^rounds times (measured: 36 scans).
    cov = share(q_embed_cov(spark, sf_dir).select("i", "j", "cov"))
    full = cov.union(
        cov.where(F.col("i") < F.col("j"))
        .select(F.col("j").alias("i"), F.col("i").alias("j"), "cov"))
    v = (spark.range(EMB_DIM)
         .select(F.col("id").cast("int").alias("pos"),
                 F.lit(0.125).alias("vk")))
    norm = None
    for _ in range(PCA_ROUNDS):
        w = share(
            full.join(F.broadcast(v), F.col("j") == F.col("pos"))
            .groupBy("i")
            .agg(F.sum(F.col("cov").cast(_PCA_Q.lower())
                       * F.col("vk").cast(_PCA_Q.lower()))
                 .cast("double").cast(_PCA_Q.lower()).cast("double")
                 .alias("w"))
        )  # consumed by both the norm agg and the divide

        norm = w.agg(
            F.sqrt(F.sum(F.col("w").cast(_PCA_Q.lower())
                         * F.col("w").cast(_PCA_Q.lower()))
                   .cast("double"))
            .cast(_PCA_Q.lower()).cast("double").alias("nrm"))
        v = (
            w.crossJoin(F.broadcast(norm))  # 1-row norm relation
            .select(F.col("i").alias("pos"),
                    # a zero-covariance corpus (all-constant embeddings)
                    # has no principal direction: NULL components, not
                    # an ANSI crash (flat_corpus profile, r13; dead on
                    # harness data where nrm > 0)
                    F.when(F.col("nrm") == 0,
                           F.lit(None).cast("double"))
                    .otherwise((F.col("w") / F.col("nrm"))
                               .cast(_PCA_Q.lower()).cast("double"))
                    .alias("vk"))
        )
    return (
        v.crossJoin(F.broadcast(norm))  # 1-row norm relation
        .select("pos", F.col("vk").alias("component"),
                F.col("nrm").alias("eigenvalue"))
    )


# ---- Product quantization (PQ codes) -------------------------------------

@query(
    "q_embed_pq",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    cb AS (
      SELECT label AS c_label,
             CAST((pos - 1) // {EMB_DIM // PQ_SUBS} AS INTEGER) AS sub, pos,
             CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(x)
               AS centroid
      FROM ex GROUP BY label, 2, pos
    ),
    d AS (
      SELECT ex.vec_id, cb.sub, cb.c_label,
             CAST(SUM(CAST((ex.x - cb.centroid) * (ex.x - cb.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM ex JOIN cb ON ex.pos = cb.pos
      GROUP BY ex.vec_id, cb.sub, cb.c_label
    )
    SELECT vec_id, sub, c_label AS code, dist2
    FROM (SELECT vec_id, sub, c_label, dist2,
                 ROW_NUMBER() OVER (
                   PARTITION BY vec_id, sub
                   ORDER BY dist2, c_label) AS rn
          FROM d)
    WHERE rn = 1
    """,
    tags=("L2e", "pq", "quantization"),
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION: split every vector into {PQ_SUBS} contiguous
    sub-vectors, learn one sub-codebook per subspace (deterministic
    per-label sub-means, the same E/M seeding as the IVF index), and
    emit each vector's code word — (vec_id, sub, code) plus the exact
    per-subspace reconstruction error. PQ is the memory side of
    IVF-PQ ANN: {PQ_SUBS} small ints replace {EMB_DIM} floats
    (~{EMB_DIM * 4 // PQ_SUBS}x compression at byte codes), and
    asymmetric distance scans read codes, not vectors.

    Scale shape: the full codebook is k x {EMB_DIM} rows — broadcast;
    the corpus explodes to components, joins the codebook map-side, and
    the per-(vector, subspace, candidate) distance aggregation collapses
    map-side before its one shuffle (k rows per (vector, subspace)).
    The argmin window partitions by (vec_id, sub) with a c_label
    tiebreak — total order, engine-independent. No Python, no
    cross join, reconstruction error exact-decimal per term."""
    ex = _exploded(spark, sf_dir)
    width = EMB_DIM // PQ_SUBS
    cb = (
        ex.groupBy(
            F.col("label").alias("c_label"),
            ((F.col("pos") - 1) / width).cast("int").alias("sub"),
            "pos")
        .agg((F.sum(q("x")).cast("double") / F.count("x")).alias("centroid"))
    )
    term = (F.col("x") - F.col("centroid")) * (F.col("x") - F.col("centroid"))
    d = (
        ex.join(F.broadcast(cb), "pos")
        .groupBy("vec_id", "sub", "c_label")
        .agg(F.sum(q(term)).cast("double").alias("dist2"))
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist2", "c_label")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("c_label").alias("code"), "dist2")
    )


@query(
    "q_cluster_geometry",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    cent AS (
      SELECT label AS c_label, pos,
             CAST(SUM(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / COUNT(x)
               AS centroid
      FROM ex GROUP BY label, pos
    ), d2 AS (
      SELECT a.c_label AS label_a, b.c_label AS label_b,
             CAST(SUM(CAST((a.centroid - b.centroid)
                           * (a.centroid - b.centroid)
                           AS DECIMAL(18,9))) AS DOUBLE) AS dist2
      FROM cent a JOIN cent b
        ON a.pos = b.pos AND a.c_label < b.c_label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b, sqrt(dist2) AS dist
    FROM d2
    """,
    tags=("L2", "clustering", "geometry"),
)
def q_cluster_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE GEOMETRY AUDIT: pairwise distances between the
    per-label centroids — the separability fingerprint that tells a
    pipeline whether two labels have collapsed (near-zero distance ⇒
    IVF cells alias, semantic dedup over-merges) before any consumer
    trusts the space. The pair join runs over the CENTROID relation
    (k × dim rows — bounded metadata scale, k²·dim work), never over
    vectors; squared terms quantize at 9 dp before the sum (the
    rescale-hazard convention for structured arithmetic) and the final
    sqrt is IEEE-exact."""
    ex = _exploded(spark, sf_dir)
    cent = _centroids(ex)
    a = cent.select(F.col("c_label").alias("label_a"), "pos",
                    F.col("centroid").alias("ca"))
    b = cent.select(F.col("c_label").alias("label_b"),
                    F.col("pos").alias("pos_b"),
                    F.col("centroid").alias("cb"))
    diff2 = (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
    return (
        a.join(b, (a.pos == b.pos_b)
               & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(diff2.cast("decimal(18,9)")).cast("double")
             .alias("dist2"))
        .select("label_a", "label_b",
                F.sqrt(F.col("dist2")).alias("dist"))
    )


# ---- Johnson-Lindenstrauss random projection (L2h) -------------------------

RP_OUT_DIM = 16            # projected dimensionality (64 -> 16)
RP_A, RP_B = 1103515245, 12345
RP_P = 2147483647          # sign hash: parity of ((A*k + B) mod P), k = i*16+j


@query(
    "q_embed_rp",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label, g.i AS i,
             CAST(embedding[g.i + 1] AS DOUBLE) AS x
      FROM embeddings, range(0, {EMB_DIM}) g(i)
    ),
    proj AS (
      SELECT c.vec_id, gj.j,
             CAST(SUM(CAST(c.x * (CASE WHEN (({RP_A} * (c.i * {RP_OUT_DIM}
                                              + gj.j) + {RP_B})
                                         % {RP_P}) % 2 = 0
                                   THEN CAST(1 AS DOUBLE)
                                   ELSE CAST(-1 AS DOUBLE) END)
                           AS DECIMAL(20,6))) AS DOUBLE) AS y
      FROM comp c, range(0, {RP_OUT_DIM}) gj(j)
      GROUP BY c.vec_id, gj.j
    ),
    norm_out AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(y * y AS DECIMAL(20,6))) AS DOUBLE))
               AS n_out
      FROM proj GROUP BY vec_id
    ),
    norm_in AS (
      SELECT vec_id, label,
             sqrt(CAST(SUM(CAST(x * x AS DECIMAL(20,6))) AS DOUBLE))
               AS n_in
      FROM comp GROUP BY vec_id, label
    ),
    dist AS (
      SELECT ni.label,
             CASE WHEN ni.n_in = 0 THEN NULL
                  ELSE (no.n_out / sqrt(CAST({RP_OUT_DIM} AS DOUBLE)))
                       / ni.n_in END AS distortion
      FROM norm_in ni JOIN norm_out no ON ni.vec_id = no.vec_id
    )
    SELECT label,
           CAST(COUNT(distortion) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(distortion AS DECIMAL(20,6))) AS DOUBLE)
             / COUNT(distortion) AS avg_distortion,
           MIN(distortion) AS min_distortion,
           MAX(distortion) AS max_distortion
    FROM dist
    GROUP BY label
    """,
    tags=("L2", "projection", "johnson-lindenstrauss"),
)
def q_embed_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS RANDOM PROJECTION with a norm-distortion
    audit: project every embedding from 64 to 16 dimensions through a
    deterministic +/-1 sign matrix (Achlioptas's database-friendly JL
    construction) and report, per label, how well scaled projected
    norms preserve original norms — the measured guarantee that makes
    the cheap 4x-smaller vectors usable for coarse ANN routing,
    candidate pruning, and sketch-size dedup upstream of exact rerank.

    The sign matrix is never materialized: entry s(i,j) is the parity
    of a universal hash of the flattened index in pure bigint
    arithmetic (engine-identical, no RNG state, any executor can
    recompute any entry). Scale shape: the projection is one explode +
    partial/final hash aggregate (component rows shrink back to
    16/vector map-side); norms reuse the same exploded relation; the
    audit output is O(#labels). Products are exact (+/-1 sign flips of
    float32-derived doubles), so the 6-dp decimal quantization before
    each order-insensitive sum is the only rounding, identical in both
    engines. A distortion concentrated near 1.0 is the JL promise
    realized; the min/max columns expose the tail the epsilon-bound
    speaks about."""
    e = load(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "label", "i", F.col("xf").cast("double").alias("x"))

    j_ids = spark.range(RP_OUT_DIM).select(F.col("id").cast("int").alias("j"))
    k = (F.col("i") * RP_OUT_DIM + F.col("j")).cast("bigint")
    sign = F.when(
        F.pmod(F.pmod(F.lit(RP_A).cast("bigint") * k + RP_B,
                      F.lit(RP_P)), F.lit(2)) == 0,
        F.lit(1.0)).otherwise(F.lit(-1.0))
    proj = (
        comp.join(F.broadcast(j_ids))
        .groupBy("vec_id", "j")
        .agg(F.sum((F.col("x") * sign).cast(QDEC)).cast("double").alias("y"))
    )
    norm_out = proj.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("y") * F.col("y")).cast(QDEC)).cast("double"))
        .alias("n_out"))
    norm_in = comp.groupBy("vec_id", "label").agg(
        F.sqrt(F.sum((F.col("x") * F.col("x")).cast(QDEC)).cast("double"))
        .alias("n_in"))
    dist = (
        norm_in.join(norm_out, "vec_id")
        .select(
            "label",
            F.when(F.col("n_in") == 0, F.lit(None).cast("double"))
            .otherwise((F.col("n_out")
                        / F.sqrt(F.lit(float(RP_OUT_DIM)))) / F.col("n_in"))
            .alias("distortion"))
    )
    return (
        dist.groupBy("label")
        .agg(F.count("distortion").cast("bigint").alias("n_vecs"),
             (F.sum(F.col("distortion").cast(QDEC)).cast("double")
              / F.count("distortion")).alias("avg_distortion"),
             F.min("distortion").alias("min_distortion"),
             F.max("distortion").alias("max_distortion"))
    )


# ---- JL-projected-space recall audit (L2j) ----------------------------------

def _rp_proj_sql(src: str) -> str:
    """Projection CTE body shared with the q_embed_rp oracle: (vec_id,
    j, y) from the deterministic sign matrix, exact-decimal summed."""
    return f"""
      SELECT {src}.vec_id, gj.j,
             CAST(SUM(CAST(CAST({src}.embedding[g.i + 1] AS DOUBLE)
                           * (CASE WHEN (({RP_A} * (g.i * {RP_OUT_DIM}
                                            + gj.j) + {RP_B})
                                      % {RP_P}) % 2 = 0
                                THEN CAST(1 AS DOUBLE)
                                ELSE CAST(-1 AS DOUBLE) END)
                           AS DECIMAL(20,6))) AS DOUBLE) AS y
      FROM {src}, range(0, {EMB_DIM}) g(i), range(0, {RP_OUT_DIM}) gj(j)
      GROUP BY {src}.vec_id, gj.j
    """


@query(
    "q_sim_recall_rp",
    oracle=f"""
    WITH proj AS ({_rp_proj_sql("embeddings")}),
    norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(y * y AS DECIMAL(20,6))) AS DOUBLE)) AS nn
      FROM proj GROUP BY vec_id
    ),
    qp AS (SELECT p.vec_id AS q_id, p.j, p.y / n.nn AS qy
           FROM proj p JOIN norms n ON p.vec_id = n.vec_id
           WHERE p.vec_id < {N_QUERIES} AND n.nn > 0),
    cp AS (SELECT p.vec_id AS c_id, p.j, p.y / n.nn AS cy
           FROM proj p JOIN norms n ON p.vec_id = n.vec_id
           WHERE p.vec_id >= {N_QUERIES} AND n.nn > 0),
    cosp AS (
      SELECT q_id, c_id,
             CAST(SUM(CAST(qy * cy AS DECIMAL(20,6))) AS DOUBLE) AS cos_rp
      FROM qp JOIN cp USING (j)
      GROUP BY q_id, c_id
    ),
    rp_top AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_rp DESC, c_id) AS rn
        FROM cosp
      ) WHERE rn <= {TOP_K}
    ),
    {UNIT_ORACLE},
    bf AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY list_inner_product(q_nv, c_nv) DESC, c_id) AS rn
        FROM q CROSS JOIN c
      ) WHERE rn <= {TOP_K}
    )
    SELECT bf.q_id,
           CAST(SUM(CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM bf LEFT JOIN rp_top r ON r.q_id = bf.q_id AND r.c_id = bf.c_id
    GROUP BY bf.q_id
    """,
    tags=("L2", "audit", "johnson-lindenstrauss"),
)
def q_sim_recall_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-PROJECTION QUALITY AUDIT: recall@10 of nearest-neighbor search
    run in the 16-dim PROJECTED space against the exact 64-dim
    brute-force neighbors, per probe — the q_sim_recall_ivf companion
    for the q_embed_rp path, and the number that decides how a JL
    sketch may be used (coarse routing / candidate pruning vs final
    ranking). A JL map preserves NORMS and pairwise distances in
    aggregate (the distortion q_embed_rp measures), but individual
    neighbor RANKS can still swap — measuring recall on real probes is
    the only honest way to size the rerank shortlist.

    Scale shape: projection + norms are partial/final aggregates; the
    probe-side cosine joins the 5 probes x candidates on the 16
    projected components (bounded by the probe sample, the same
    audit-sampling argument as the IVF recall job); top-k per probe is
    a bounded window. Dot terms are decimal-quantized so the grouped
    sums are order-insensitive and engine-identical.

    Measured on the harness corpus: recall ~0 — the synthetic
    embeddings are near-random (all pairwise cosines cluster near 0,
    the regime q_sim_recall_ivf's docstring documents), and JL
    preserves DISTANCES, not the rank order of distances that are all
    equal; on clustered real embeddings the same audit reads high.
    That a 16-dim sketch is NOT rank-faithful here is exactly what the
    audit exists to catch before someone routes by it."""
    e = load(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    j_ids = spark.range(RP_OUT_DIM).select(
        F.col("id").cast("int").alias("j"))
    k = (F.col("i") * RP_OUT_DIM + F.col("j")).cast("bigint")
    sign = F.when(
        F.pmod(F.pmod(F.lit(RP_A).cast("bigint") * k + RP_B,
                      F.lit(RP_P)), F.lit(2)) == 0,
        F.lit(1.0)).otherwise(F.lit(-1.0))
    proj = (
        comp.join(F.broadcast(j_ids))
        .groupBy("vec_id", "j")
        .agg(F.sum((F.col("x") * sign).cast(QDEC)).cast("double")
             .alias("y"))
    )
    norms = proj.groupBy("vec_id").agg(
        F.sqrt(F.sum((F.col("y") * F.col("y")).cast(QDEC)).cast("double"))
        .alias("nn"))
    pn = (proj.join(norms, "vec_id").where(F.col("nn") > 0)
          .select("vec_id", "j", (F.col("y") / F.col("nn")).alias("yn")))
    # Share (r15, guide §1.2 step 1): the normalized
    # projection feeds both cosine sides (qp, cp); without a
    # materialization point each side re-ran the posexplode x 16
    # projection aggregate and its norm join — the expensive stage of
    # the audit, twice. (vec_id, j, yn) is N x RP_OUT_DIM doubles.
    pn = share(pn)
    qp = (pn.where(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("q_id"), "j",
                  F.col("yn").alias("qy")))
    cp = (pn.where(F.col("vec_id") >= N_QUERIES)
          .select(F.col("vec_id").alias("c_id"), "j",
                  F.col("yn").alias("cy")))
    cosp = (
        qp.join(cp, "j")
        .groupBy("q_id", "c_id")
        .agg(F.sum((F.col("qy") * F.col("cy")).cast(QDEC)).cast("double")
             .alias("cos_rp"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_rp").desc(), "c_id")
    rp_top = (cosp.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= TOP_K)
              .select("q_id", "c_id", F.lit(1).alias("hit")))

    bf = q_sim_topk(spark, sf_dir).select("q_id", "c_id")
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        bf.join(rp_top, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(n_hits.cast("bigint").alias("n_hits"),
             (n_hits.cast("double") / TOP_K).alias("recall_at_k"))
    )


# ---- Simplified silhouette (cluster-quality audit) (L2l) -------------------


@query(
    "q_cluster_silhouette",
    oracle=f"""
    WITH {_ORACLE_EXPLODED},
    {_ORACLE_CENTROIDS},
    d AS (
      SELECT ex.vec_id, ex.label, cent.c_label,
             CAST(SUM(CAST((ex.x - cent.centroid) * (ex.x - cent.centroid)
                           AS DECIMAL(20,6))) AS DOUBLE) AS dist2
      FROM ex JOIN cent ON ex.pos = cent.pos
      GROUP BY ex.vec_id, ex.label, cent.c_label
    ),
    ab AS (
      SELECT vec_id, label,
             CAST(sqrt(MAX(CASE WHEN c_label = label THEN dist2 END))
                  AS DECIMAL(18,9)) AS a,
             CAST(sqrt(MIN(CASE WHEN c_label <> label THEN dist2 END))
                  AS DECIMAL(18,9)) AS b
      FROM d GROUP BY vec_id, label
    ),
    s AS (
      SELECT label,
             CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS DECIMAL(18,6))
                  ELSE CAST(CAST((b - a) AS DOUBLE)
                       / CAST(greatest(a, b) AS DOUBLE)
                       AS DECIMAL(18,6)) END AS sil
      FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(CAST(CAST(SUM(sil) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_silhouette,
           CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM s GROUP BY label ORDER BY label
    """,
    tags=("L2l", "clustering", "silhouette"),
)
def q_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED SILHOUETTE per cluster: s = (b − a)/max(a, b) with
    a = distance to the OWN centroid and b = distance to the nearest
    OTHER centroid — the cluster-quality audit that says whether the
    label structure the IVF index, the diversity sampler, and the
    semantic-dedup threshold all lean on actually separates
    (mean s → 1), overlaps (→ 0), or mis-assigns (s < 0 counted
    explicitly — those are exactly the vectors q_cluster_assign moves).
    The centroid-based 'simplified' form is THE scalable silhouette:
    the classical pairwise version needs O(n²) distances; this one
    needs n·k and is the standard large-n substitute.

    Scale shape: the exploded-component join against the broadcast
    k×dim centroid relation (the L2 assignment discipline) folds to
    one (vec, centroid) distance row per pair via hash agg; a/b fall
    out of ONE conditional aggregate per vector; per-vector silhouettes
    are 6-dp-quantized after sqrt (IEEE-exact but libm-adjacent — the
    compat rule applied conservatively) and fold per label through the
    exact decimal sum. a = b = 0 (vector equal to both centroids)
    reports 0 by convention instead of 0/0."""
    ex = _exploded(spark, sf_dir)
    cent = _centroids(ex)
    term = (F.col("x") - F.col("centroid")) * (F.col("x") - F.col("centroid"))
    d = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum(q(term)).cast("double").alias("dist2"))
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.sqrt(F.max(F.when(F.col("c_label") == F.col("label"),
                            F.col("dist2"))))
        .cast("decimal(18,9)").alias("a"),
        F.sqrt(F.min(F.when(F.col("c_label") != F.col("label"),
                            F.col("dist2"))))
        .cast("decimal(18,9)").alias("b"))
    sil = F.when(F.greatest("a", "b") == 0,
                 F.lit(0).cast("decimal(18,6)")) \
        .otherwise(((F.col("b") - F.col("a")).cast("double")
                    / F.greatest("a", "b").cast("double"))
                   .cast("decimal(18,6)"))
    s = ab.select("label", sil.alias("sil"))
    return (s.groupBy("label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                 (F.sum("sil").cast("double") / F.count(F.lit(1)))
                 .cast("decimal(18,6)").cast("double")
                 .alias("mean_silhouette"),
                 F.sum(F.when(F.col("sil") < 0, 1).otherwise(0))
                 .cast("bigint").alias("n_negative"))
            .orderBy("label"))
