"""Scoring + conditional logic (SURVEY.md §2.8 F4-F5, §2.10 X1).

Reference capability: payer-denial risk — "a simple logistic-style
function based on price, tier and prior authorisation" (reference
README.md:9,27,77 ``app/ml/denial.py``) — and CASE-style rule predicates
(README.md:9).

Spark-first: the "ML" scoring function is a pure Column expression —
codegen'd JVM arithmetic, NOT a UDF. At 100 TB that is the difference
between a scan-speed pipeline and a Python serialization wall. The same
builder is reused by the clinical domain layer (domain/rules.py).

Cross-engine note: ``exp`` is libm-dependent (last-ulp drift between JVM
and DuckDB), so any aggregated score goes through decimal quantization
(compat.py hazard #2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..compat import q
from ..io import load
from ..registry import query

# Published fixed weights for the denial-risk logistic (FIXTURES.md §B):
# intercept, price, tier, prior-auth.
DENIAL_WEIGHTS = (-2.0, 0.01, 0.4, 1.5)


def logistic_score(
    price: Column, tier: Column, prior_auth: Column,
    weights: tuple[float, float, float, float] = DENIAL_WEIGHTS,
) -> Column:
    """sigmoid(w0 + w1*price + w2*tier + w3*prior_auth) as a native
    Column expression (README.md:77)."""
    w0, w1, w2, w3 = weights
    z = (
        F.lit(w0)
        + F.lit(w1) * price
        + F.lit(w2) * tier
        + F.lit(w3) * prior_auth.cast("int")
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


_ORACLE_SCORE = """
      1.0 / (1.0 + exp(-(-2.0
        + 0.01 * (o_totalprice / 1000.0)
        + 0.4 * CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
        + 1.5 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)))
"""


@query(
    "q_math_score",
    oracle=f"""
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(({_ORACLE_SCORE}) AS DECIMAL(20,6))) AS DOUBLE)
        AS sum_score,
      CAST(SUM(CAST(({_ORACLE_SCORE}) AS DECIMAL(20,6))) AS DOUBLE)
        / COUNT(*) AS avg_score
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("F4", "X1"),
)
def q_math_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denial-risk logistic scoring (README.md:9,77) over the harness
    shape: price = o_totalprice/1000, tier = priority digit, prior-auth =
    (status = 'F'); aggregated per priority with quantized sums."""
    o = load(spark, sf_dir, "orders")
    score = logistic_score(
        price=F.col("o_totalprice") / F.lit(1000.0),
        tier=F.substring("o_orderpriority", 1, 1).cast("int"),
        prior_auth=F.col("o_orderstatus") == "F",
    )
    qscore = q(score)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(qscore).cast("double").alias("sum_score"),
        (F.sum(qscore).cast("double") / F.count(F.lit(1))).alias("avg_score"),
    )


@query(
    "q_conditional",
    oracle="""
    SELECT
      CASE
        WHEN l_discount = 0 THEN 'none'
        WHEN l_discount < 0.05 THEN 'low'
        WHEN l_discount < 0.08 THEN 'mid'
        ELSE 'high'
      END AS discount_band,
      CASE WHEN l_tax > 0.04 THEN 'taxed' ELSE 'light' END AS tax_band,
      COUNT(*) AS n_lines,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        AS sum_price
    FROM lineitem
    GROUP BY 1, 2
    """,
    tags=("F5",),
)
def q_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN rule predicates (tier/PA/price threshold flags,
    README.md:9), grouped to a summary."""
    li = load(spark, sf_dir, "lineitem")
    discount_band = (
        F.when(F.col("l_discount") == 0, "none")
        .when(F.col("l_discount") < 0.05, "low")
        .when(F.col("l_discount") < 0.08, "mid")
        .otherwise("high")
    )
    tax_band = F.when(F.col("l_tax") > 0.04, "taxed").otherwise("light")
    return (
        li.select(
            discount_band.alias("discount_band"),
            tax_band.alias("tax_band"),
            "l_extendedprice",
        )
        .groupBy("discount_band", "tax_band")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(20,6)"))
            .cast("double").alias("sum_price"),
        )
    )


# ---- Logistic TRAINING (batch gradient descent, engine-exact) ------------

GD_ETA = 0.5       # learning rate
GD_ROUNDS = 2      # unrolled fixed iterations (PageRank discipline)


def sigmoid_q(z: Column) -> Column:
    """sigmoid(z), 6-dp-quantized (libm exp drift, compat hazard 2)."""
    return (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) \
        .cast("decimal(18,6)").cast("double")


def logistic_p() -> Column:
    """The fitted score sigmoid_q(w0 + w1*x1 + w2*x2) over columns
    ``w0..w2`` (a row of ``fit_logistic``) and ``x1, x2``."""
    return sigmoid_q(F.col("w0") + F.col("w1") * F.col("x1")
                     + F.col("w2") * F.col("x2"))


def fit_logistic(df: DataFrame) -> DataFrame:
    """1-row (w0, w1, w2): a logistic model of ``y`` on ``x1, x2`` fitted
    by GD_ROUNDS unrolled batch-gradient-descent rounds from zero
    weights, the one engine-exact training recipe.

    Each round is ONE partial/final aggregation over ``df`` producing a
    3-number gradient (the shuffle carries 3 decimals, never rows):
    p = sigmoid_q(w·x) is 6-dp-quantized per row, every gradient term
    (y - p), (y - p)·x1, (y - p)·x2 is quantized to DECIMAL(18,6) and
    summed exactly, and w += GD_ETA · grad / n is re-quantized to 6 dp.
    So the fit is independent of partitioning and summation order: a
    1000-executor fit reproduces this one bit for bit, and
    ``gd_oracle`` reproduces it in DuckDB. The update is driver-free:
    the incoming weights ride through the aggregate as max-of-constant
    and the 1-row weight relation is broadcast-crossJoined into the
    next round. Rounds are fixed and data-independent (a static job
    graph); each costs one pass over ``df``, so share ``df`` when it is
    expensive to recompute."""
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")

    def round_weights(rel: DataFrame, w0, w1, w2) -> DataFrame:
        p = sigmoid_q(w0 + w1 * x1 + w2 * x2)
        g = rel.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(w0).alias("_w0"),
            F.max(w1).alias("_w1"),
            F.max(w2).alias("_w2"),
            F.sum((y - p).cast("decimal(18,6)")).cast("double").alias("s0"),
            F.sum(((y - p) * x1).cast("decimal(18,6)")).cast("double")
            .alias("s1"),
            F.sum(((y - p) * x2).cast("decimal(18,6)")).cast("double")
            .alias("s2"),
        )
        return g.select(*[
            (F.col(f"_w{i}") + F.lit(GD_ETA) * F.col(f"s{i}") / F.col("n"))
            .cast("decimal(18,6)").cast("double").alias(f"w{i}")
            for i in range(3)])

    w = round_weights(df, F.lit(0.0), F.lit(0.0), F.lit(0.0))
    for _ in range(GD_ROUNDS - 1):
        w = round_weights(
            df.crossJoin(F.broadcast(w)),  # 1-row weight relation
            F.col("w0"), F.col("w1"), F.col("w2"))
    return w


def gd_oracle(src: str) -> tuple[list[str], str]:
    """``fit_logistic`` as DuckDB SQL over the relation ``src`` (columns
    ``x1, x2, y``): one pair of CTEs ``g<r>, w<r>`` per round, the last
    named ``w<GD_ROUNDS>``, and the fitted score expression ``p`` over
    ``x1, x2``."""
    def score(w0: str, w1: str, w2: str) -> str:
        return (f"CAST(CAST(1.0 / (1.0 + exp(-({w0} + {w1} * x1"
                f" + {w2} * x2))) AS DECIMAL(18,6)) AS DOUBLE)")

    prev = ("0.0", "0.0", "0.0")
    ctes = []
    for r in range(1, GD_ROUNDS + 1):
        w0, w1, w2 = prev
        p = score(w0, w1, w2)
        ctes.append(f"""g{r} AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST((y - {p}) AS DECIMAL(18,6))) AS DOUBLE) AS s0,
        CAST(SUM(CAST((y - {p}) * x1 AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        CAST(SUM(CAST((y - {p}) * x2 AS DECIMAL(18,6))) AS DOUBLE) AS s2
      FROM {src}
    ), w{r} AS (
      SELECT
        CAST(CAST({w0} + {GD_ETA} * s0 / n AS DECIMAL(18,6)) AS DOUBLE)
          AS w0,
        CAST(CAST({w1} + {GD_ETA} * s1 / n AS DECIMAL(18,6)) AS DOUBLE)
          AS w1,
        CAST(CAST({w2} + {GD_ETA} * s2 / n AS DECIMAL(18,6)) AS DOUBLE)
          AS w2
      FROM g{r}
    )""")
        prev = (f"(SELECT w0 FROM w{r})", f"(SELECT w1 FROM w{r})",
                f"(SELECT w2 FROM w{r})")
    return ctes, score(*prev)


def _lr_oracle() -> str:
    ctes, p = gd_oracle("f")
    return f"""
    WITH f AS (
      SELECT o_totalprice / 600000.0 AS x1,
             CAST(substr(o_orderpriority, 1, 1) AS INTEGER) / 5.0 AS x2,
             CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
      FROM orders
    ), {', '.join(ctes)}
    SELECT
      (SELECT w0 FROM w{GD_ROUNDS}) AS w0,
      (SELECT w1 FROM w{GD_ROUNDS}) AS w1,
      (SELECT w2 FROM w{GD_ROUNDS}) AS w2,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(CAST(
        CAST(SUM(CAST((y - {p}) * (y - {p}) AS DECIMAL(18,6)))
          AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS brier
    FROM f
    """


@query("q_ml_logreg_train", oracle=_lr_oracle(),
       tags=("X1", "F4", "ml", "training"))
def q_ml_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOGISTIC-REGRESSION TRAINING inside the engine: the reference
    SCORES with a fixed logistic (README.md:9,27,77); this learns the
    weights with ``fit_logistic`` on (scaled price, scaled priority
    tier) → returned-order label, plus the Brier score of the fitted
    model — the distributed-training primitive in its engine-exact
    form.

    Scale: per GD round one scan + one 3-column aggregate; at 100 TB
    the scan dominates and mini-batching = adding a digest-sample
    filter (q_split_train_test's bucketing) in front."""
    f = load(spark, sf_dir, "orders").select(
        (F.col("o_totalprice") / 600000.0).alias("x1"),
        (F.substring("o_orderpriority", 1, 1).cast("int") / 5.0)
        .alias("x2"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)
        .alias("y"))
    err = F.col("y") - logistic_p()
    return (
        f.crossJoin(F.broadcast(fit_logistic(f)))  # 1-row weight relation
        .agg(
            F.max("w0").alias("w0"),
            F.max("w1").alias("w1"),
            F.max("w2").alias("w2"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.sum((err * err).cast("decimal(18,6)"))
             .cast("double") / F.count(F.lit(1)))
            .cast("decimal(18,6)").cast("double").alias("brier"),
        )
    )


# ---- Weight-of-evidence / information-value feature audit (X7) -------------

WOE_BIN_WIDTH = 50000.0  # o_totalprice band width
WOE_MAX_BIN = 9          # bins 0..9 (top bin open-ended)
WOE_TARGET = "F"         # "bad" outcome: fulfilled orders as stand-in label


@query(
    "q_feature_woe",
    oracle=f"""
    WITH binned AS (
      SELECT LEAST(CAST(floor(o_totalprice / {WOE_BIN_WIDTH}) AS BIGINT),
                   {WOE_MAX_BIN}) AS bin,
             CASE WHEN o_orderstatus = '{WOE_TARGET}' THEN 1 ELSE 0 END
               AS bad
      FROM orders
    ),
    per_bin AS (
      SELECT bin,
             SUM(bad) AS n_bad,
             SUM(1 - bad) AS n_good
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT SUM(n_bad) AS tot_bad, SUM(n_good) AS tot_good FROM per_bin
    )
    SELECT bin,
           CAST(n_bad AS BIGINT) AS n_bad,
           CAST(n_good AS BIGINT) AS n_good,
           CAST(CAST(ln(((n_bad + CAST(0.5 AS DOUBLE)) * tot_good)
                        / ((n_good + CAST(0.5 AS DOUBLE)) * tot_bad))
                AS DECIMAL(18,6)) AS DOUBLE) AS woe,
           (CAST(n_bad AS DOUBLE) / tot_bad
            - CAST(n_good AS DOUBLE) / tot_good)
           * CAST(CAST(ln(((n_bad + CAST(0.5 AS DOUBLE)) * tot_good)
                          / ((n_good + CAST(0.5 AS DOUBLE)) * tot_bad))
                  AS DECIMAL(18,6)) AS DOUBLE) AS iv_term
    FROM per_bin, tot
    """,
    tags=("X7", "feature", "woe"),
)
def q_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-OF-EVIDENCE / INFORMATION-VALUE audit of a binned numeric
    feature against a binary outcome — the classic credit-scoring
    feature screen (and the standard monotonic-binning diagnostic
    before logistic models): per price band, how strongly the band
    shifts the log-odds of the outcome (WOE) and how much separation
    the whole feature carries (IV = sum of iv_term). Bands are
    fixed-width with an open top bin, so binning is one exact
    floor-divide (no engine-dependent quantile edges); the +0.5
    Laplace smoothing keeps empty cells finite.

    Scale shape: one scan -> one tiny group-by (<= 10 bins) -> a
    broadcast 1-row totals relation; output is O(bins). The only
    transcendental is one ln per bin, 6-dp-quantized before the
    iv_term product (compat rule 2); counts and ratios are
    integer-derived IEEE."""
    o = load(spark, sf_dir, "orders")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / WOE_BIN_WIDTH)
                .cast("bigint"), F.lit(WOE_MAX_BIN)).alias("bin"),
        F.when(F.col("o_orderstatus") == WOE_TARGET, 1).otherwise(0)
        .alias("bad"))
    per_bin = binned.groupBy("bin").agg(
        F.sum("bad").alias("n_bad"),
        F.sum(1 - F.col("bad")).alias("n_good"))
    tot = per_bin.agg(F.sum("n_bad").alias("tot_bad"),
                      F.sum("n_good").alias("tot_good"))
    n_bad, n_good = F.col("n_bad"), F.col("n_good")
    tot_bad, tot_good = F.col("tot_bad"), F.col("tot_good")
    woe = (
        F.log(((n_bad + 0.5) * tot_good) / ((n_good + 0.5) * tot_bad))
        .cast("decimal(18,6)").cast("double")
    )
    iv_term = (n_bad.cast("double") / tot_bad
               - n_good.cast("double") / tot_good) * woe
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select("bin",
                n_bad.cast("bigint").alias("n_bad"),
                n_good.cast("bigint").alias("n_good"),
                woe.alias("woe"),
                iv_term.alias("iv_term"))
    )


# ---- Smoothed target encoding (X8) ------------------------------------------

TE_SMOOTHING = 20.0  # pseudo-observations pulled toward the global mean


@query(
    "q_feature_target_encode",
    oracle=f"""
    WITH cat AS (
      SELECT o_orderpriority AS category,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
               AS s1
      FROM orders GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(CAST(s1 AS DECIMAL(27,6))) AS DOUBLE) / SUM(n)
               AS gmean
      FROM cat
    )
    SELECT category,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(s1 / n AS DECIMAL(18,6)) AS DOUBLE) AS raw_mean,
           CAST(CAST(
             (s1 + CAST({TE_SMOOTHING} AS DOUBLE) * gmean)
             / (n + CAST({TE_SMOOTHING} AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) AS encoded,
           CAST(CAST(gmean AS DECIMAL(18,6)) AS DOUBLE) AS global_mean
    FROM cat CROSS JOIN g
    """,
    tags=("X8", "feature", "target-encoding"),
)
def q_feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOOTHED TARGET ENCODING of a categorical feature (order priority
    -> mean order value): encoded = (sum_cat + m * global_mean) /
    (n_cat + m), the empirical-Bayes shrinkage that keeps rare
    categories from memorizing their few targets — the standard
    high-cardinality categorical treatment in gradient-boosting
    pipelines, and the regression companion to X7's WOE (binary
    targets). Reported per category with the raw mean and the global
    mean so the shrinkage is auditable.

    One hash aggregate per category (decimal-exact sums), the global
    mean derived FROM the category relation (no second scan of the
    fact table), broadcast back over the category-cardinality-bounded
    relation. Means are 6-dp-quantized (division chains); counts exact.
    At 100 TB the encoder output IS the artifact a training pipeline
    broadcasts into its feature join."""
    from ..compat import QDEC

    o = load(spark, sf_dir, "orders")
    cat = (
        o.groupBy(F.col("o_orderpriority").alias("category"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
             .cast("double").alias("s1")))
    glob = cat.agg(
        (F.sum(F.col("s1").cast("decimal(27,6)")).cast("double")
         / F.sum("n")).alias("gmean"))
    m = F.lit(TE_SMOOTHING)
    return (
        cat.crossJoin(F.broadcast(glob))
        .select(
            "category", F.col("n").cast("bigint").alias("n"),
            (F.col("s1") / F.col("n")).cast(QDEC).cast("double")
            .alias("raw_mean"),
            ((F.col("s1") + m * F.col("gmean")) / (F.col("n") + m))
            .cast(QDEC).cast("double").alias("encoded"),
            F.col("gmean").cast(QDEC).cast("double").alias("global_mean"))
    )


# ---- Feature hashing (the hashing trick) (X10) -----------------------------

FH_BUCKETS = 64  # 2^6 buckets — small enough to read, large enough to collide


@query(
    "q_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT p_partkey, u.tok
      FROM (
        SELECT p_partkey, p_type || ' ' || p_brand AS s FROM part
      ), UNNEST(string_split(s, ' ')) AS u(tok)
      WHERE u.tok <> ''
    ),
    hashed AS (
      SELECT tok,
             CAST(CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                  % {FH_BUCKETS} AS BIGINT) AS bucket,
             CASE WHEN CAST('0x' || substr(md5(tok), 9, 1) AS BIGINT)
                       % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           CAST(SUM(sgn) AS BIGINT) AS signed_sum
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("X10", "feature", "hashing"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (the hashing trick): every part's type/brand
    token maps to md5-bucket uint32(md5[:8]) mod {FH_BUCKETS} with a
    ±1 sign from the next hex nibble — the fixed-width, vocabulary-free
    featurization that makes streaming/online models possible at 100 TB
    (no vocabulary build, no OOV problem, no second pass; Weinberger et
    al.'s signed variant keeps collision noise zero-mean). The output
    is the BUCKET HEALTH TABLE a feature platform audits before
    trusting hashed features: occupancy, collision degree
    (distinct tokens per bucket), and the signed occurrence sum.

    Scale shape: one catalog scan → token explode → hash expressions
    (JVM-side md5 + substring + conv, no UDF) → ONE hash agg keyed by
    the {FH_BUCKETS}-value bucket id. The md5-hex convention makes
    bucket and sign bit-identical across engines (same idiom as A51's
    Bloom positions); all outputs exact integers — no floats, parity
    is structural."""
    p = load(spark, sf_dir, "part")
    toks = (p.select(F.concat_ws(" ", F.col("p_type"), F.col("p_brand"))
                     .alias("s"))
            .select(F.explode(F.split(F.col("s"), " ")).alias("tok"))
            .where(F.col("tok") != ""))
    h = F.md5(F.col("tok"))
    hashed = toks.select(
        "tok",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
         % FH_BUCKETS).alias("bucket"),
        F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint")
               % 2 == 0, 1).otherwise(-1).alias("sgn"))
    return (hashed.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.countDistinct("tok").cast("bigint")
                 .alias("n_distinct_tokens"),
                 F.sum("sgn").cast("bigint").alias("signed_sum"))
            .orderBy("bucket"))


# ---- Information-gain feature ranking (A79) ----------------------------------

IG_BANDS = (200, 350, 500)  # n_chars band edges (probed quartile-ish)


def _ig_ent_sql(p: str) -> str:
    """-(p·ln p + (1-p)·ln(1-p)) with each libm ln 9-dp-quantized
    (compat hazard 2) and the p∈{0,1} limits hard-zeroed."""
    return f"""CASE WHEN ({p}) <= 0.0 OR ({p}) >= 1.0 THEN 0.0
           ELSE -(({p}) * CAST(CAST(ln({p}) AS DECIMAL(18,9)) AS DOUBLE)
                  + (1.0 - ({p}))
                    * CAST(CAST(ln(1.0 - ({p})) AS DECIMAL(18,9))
                           AS DOUBLE)) END"""


def _ig_oracle() -> str:
    lo, mid, hi = IG_BANDS
    band = (f"CASE WHEN n_chars < {lo} THEN 'lt{lo}' "
            f"WHEN n_chars < {mid} THEN 'lt{mid}' "
            f"WHEN n_chars < {hi} THEN 'lt{hi}' ELSE 'ge{hi}' END")
    p_b = "CAST(pos_b AS DOUBLE) / n_b"
    p_g = "CAST(SUM(pos_b) AS DOUBLE) / SUM(n_b)"
    per_feature = []
    for fname, expr in (("n_chars_band", band), ("source", "source")):
        per_feature.append(f"""
    SELECT '{fname}' AS feature, n_bands, h_label, h_cond,
           CAST(CAST(h_label - h_cond AS DECIMAL(18,6)) AS DOUBLE)
             AS info_gain,
           CASE WHEN h_label = 0.0 THEN NULL
                ELSE CAST(CAST((h_label - h_cond) / h_label
                     AS DECIMAL(18,6)) AS DOUBLE) END AS ig_ratio
    FROM (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_bands,
             CAST(CAST({_ig_ent_sql(p_g)}
                  AS DECIMAL(18,6)) AS DOUBLE) AS h_label,
             CAST(CAST(CAST(SUM(CAST(
               (CAST(n_b AS DOUBLE) / n)
               * ({_ig_ent_sql(p_b)}) AS DECIMAL(27,9))) AS DOUBLE)
               AS DECIMAL(18,6)) AS DOUBLE) AS h_cond
      FROM (
        SELECT b, n_b, pos_b, SUM(n_b) OVER () AS n
        FROM (
          SELECT {expr} AS b, COUNT(*) AS n_b,
                 SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos_b
          FROM documents GROUP BY 1
        ) bands0
      ) bands
    ) folded""")
    return f"""
    SELECT * FROM ({' UNION ALL '.join(per_feature)})
    ORDER BY feature
    """


@query("q_feature_infogain", oracle=_ig_oracle(),
       tags=("A79", "ml-feature", "information-gain"))
def q_feature_infogain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INFORMATION GAIN of two candidate features against the binary
    language label — the decision-stump feature ranking that complements
    X7's WOE/IV (monotone evidence weight) with the ENTROPY view a tree
    split uses: IG = H(y) − Σ_b (n_b/n)·H(y|b), plus the normalized
    ratio IG/H(y) so features compare across label skews. Features:
    the banded n_chars length (edges {IG_BANDS}) and the source
    column — length should carry signal (quality_features' x2 is its
    continuous twin), source is the leakage check (a high IG on source
    means the label is confounded with provenance, the split-leakage
    hazard L5d audits).

    Determinism: every libm ln is 9-dp-quantized before use (compat
    hazard 2); the per-band conditional-entropy terms quantize to
    DECIMAL(27,9) BEFORE the band fold so the sum is order-insensitive;
    band probabilities are exact-integer divisions (deterministic
    IEEE). Scale: one conditional-aggregate scan per feature to ≤
    |bands| rows, a window-free fold, catalog-bounded union. The
    p∈{{0,1}} entropy limits are hard zeros (ANSI ln(0) guard, the
    flat-corpus discipline)."""
    lo, mid, hi = IG_BANDS
    d = load(spark, sf_dir, "documents")
    band = (F.when(F.col("n_chars") < lo, f"lt{lo}")
            .when(F.col("n_chars") < mid, f"lt{mid}")
            .when(F.col("n_chars") < hi, f"lt{hi}")
            .otherwise(f"ge{hi}"))

    def ent(p):
        q9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
        return F.when((p <= 0.0) | (p >= 1.0), F.lit(0.0)) \
            .otherwise(-(p * q9(F.log(p))
                         + (F.lit(1.0) - p) * q9(F.log(F.lit(1.0) - p))))

    out = None
    for fname, expr in (("n_chars_band", band), ("source", F.col("source"))):
        bands = d.groupBy(expr.alias("b")).agg(
            F.count(F.lit(1)).alias("n_b"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .alias("pos_b"))
        wall = Window.partitionBy()
        p_b = F.col("pos_b").cast("double") / F.col("n_b")
        term = ((F.col("n_b").cast("double")
                 / F.sum("n_b").over(wall)) * ent(p_b)) \
            .cast("decimal(27,9)")
        folded = (bands.select("n_b", "pos_b", term.alias("t"))
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands"),
                       ent(F.sum("pos_b").cast("double") / F.sum("n_b"))
                       .cast("decimal(18,6)").cast("double")
                       .alias("h_label"),
                       F.sum("t").cast("double")
                       .cast("decimal(18,6)").cast("double")
                       .alias("h_cond")))
        row = folded.select(
            F.lit(fname).alias("feature"), "n_bands", "h_label", "h_cond",
            (F.col("h_label") - F.col("h_cond"))
            .cast("decimal(18,6)").cast("double").alias("info_gain"),
            F.when(F.col("h_label") == 0.0, F.lit(None).cast("double"))
            .otherwise(((F.col("h_label") - F.col("h_cond"))
                        / F.col("h_label"))
                       .cast("decimal(18,6)").cast("double"))
            .alias("ig_ratio"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("feature")
