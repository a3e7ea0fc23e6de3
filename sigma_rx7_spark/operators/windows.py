"""Window functions + top-k (SURVEY.md §2.5-2.6).

Reference capability: rank generic candidates by price within a brand and
keep the cheapest (README.md:3,8-9,24); most-recent prescription/coverage
row per patient ("clinical history", README.md:3,7); gaps between
consecutive prescriptions; ordered top recommendations in the UI
(README.md:11,71).

Spark-first: one ``Window.partitionBy(key).orderBy(...)`` per family —
a single hash-partition shuffle + in-partition sort, no self-joins.
Every window here carries a *total* ordering (unique tiebreak column) so
the selected rows are engine-independent, and global top-k goes through
``orderBy().limit()`` which Spark plans as TakeOrderedAndProject (per-
partition heaps + driver merge — no full sort at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..materialize import share
from ..registry import query


@query(
    "q_window_rank",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY c_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) t
    WHERE rn <= 3
    """,
    tags=("W1",),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group by rank (cheapest-generic-per-brand shape,
    README.md:24): row_number with a unique tiebreak."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@query(
    "q_window_latest",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t
    WHERE rn = 1
    """,
    tags=("W2",),
)
def q_window_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key dedup (most recent prescription/coverage row
    per patient, README.md:3,7)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(CAST(ts AS TIMESTAMP))
             - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                 PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
             AS gap_us
    FROM events
    """,
    tags=("W3",),
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): gap to the previous same-user event (refill-continuity gap
    shape, README.md:3). First event per user keeps NULL."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    )


@query(
    "q_window_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS moving_avg
    FROM events
    WINDOW w AS (
      PARTITION BY user_id
      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """,
    tags=("W4",),
)
def q_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average over a 10-row frame (rolling med count / cost over
    time, README.md:3). Decimal-quantized so sliding-window summation
    order can't cause engine drift."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(F.col("value").cast("decimal(20,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("moving_avg"),
    )


@query(
    "q_sort_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    tags=("O1", "O2"),
)
def q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (top recommendations in the UI, README.md:11,71):
    orderBy+limit → TakeOrderedAndProject, not a full sort."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT
      o_orderkey,
      o_orderstatus,
      NTILE(4) OVER w AS price_quartile,
      ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      ROUND(CUME_DIST() OVER w, 6) AS cume,
      NTH_VALUE(o_orderkey, 1) OVER (
        w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS cheapest_in_status
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("W7", "distribution"),
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — quartile bucketing (ntile),
    relative standing (percent_rank/cume_dist, rounded at 6dp: their
    division is engine-deterministic but quantized for safety), and
    nth_value — the percentile-placement family a cost dashboard needs
    (README.md:8,11). The (price, orderkey) tiebreak totalizes the
    order, making every output partition-count-independent."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return o.select(
        "o_orderkey", "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 1).over(w_full)
        .alias("cheapest_in_status"),
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_events_1h,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
             AS sum_value_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id
      ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("W4", "range-frame"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing ONE-HOUR event-time frame per user (rolling event rate +
    value sum) — a RANGE frame over epoch micros, not a row count: the
    frame width follows the clock, so sparse and bursty users get the
    same temporal semantics. This is the "rolling rate over the last
    hour" primitive behind alerting and rate limiting.

    Same one-shuffle/one-sort plan class as the row frame (W4); range
    frames cost a frame-boundary search per row instead of a fixed
    offset, still linear per partition. The frame key is the bare
    timestamp (no event_id tiebreak: RANGE requires a single ordering
    expression); ties share a frame in both engines, so results stay
    engine- and partition-independent, and the decimal-quantized sum
    makes the windowed float exact."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.sum(F.col("value").cast("decimal(20,6)")).over(w).cast("double")
        .alias("sum_value_1h"),
    )


# ---- Exponentially-weighted moving average -------------------------------

EMA_WINDOW = 8  # truncated EWMA depth (alpha = 1/2)

# 2^-k literals, exact in binary64 AND in decimal text — the whole weight
# family is dyadic so value * w_k never rounds (power-of-two scaling),
# making the term quantization unambiguous in both engines.
_EMA_W = [0.5 ** k for k in range(EMA_WINDOW)]


def _ema_oracle() -> str:
    terms = " + ".join(
        f"CAST(COALESCE(LAG(value, {k}) OVER w * {w!r}, 0)"
        f" AS DECIMAL(24,12))"
        for k, w in enumerate(_EMA_W))
    norm = " + ".join(
        f"CAST(CASE WHEN LAG(value, {k}) OVER w IS NOT NULL"
        f" THEN {w!r} ELSE 0 END AS DECIMAL(24,12))"
        for k, w in enumerate(_EMA_W))
    return f"""
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           CASE WHEN CAST(({norm}) AS DOUBLE) = 0 THEN NULL
           ELSE CAST(CAST(
             CAST(({terms}) AS DOUBLE) / CAST(({norm}) AS DOUBLE)
             AS DECIMAL(20,6)) AS DOUBLE) END AS ema_value
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
    """


@query("q_window_ema", oracle=_ema_oracle(), tags=("W4", "ema"))
def q_window_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per key (α = ½, truncated
    at {EMA_WINDOW} lags): the recency-weighted smoother between W4's
    uniform moving average and W6's LOCF — the trend signal an alerting
    dashboard actually plots. The recursive EWMA is not window-
    expressible; the truncated form IS, as a weighted sum of lags
    normalized by the present weights (so series heads and gaps
    renormalize instead of biasing toward zero).

    Determinism: α = ½ makes every weight 2⁻ᵏ — value·2⁻ᵏ is exact
    power-of-two scaling in binary64, each term is decimal-quantized at
    12 dp before the sum (order-insensitive), and the single division
    runs once on identical doubles. One window ordering (ts, event_id —
    total), {EMA_WINDOW} lag expressions sharing ONE Window exec, one
    shuffle by key."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy("ts_us", "event_id"))
    base = ev.select("user_id", "event_id",
                     F.unix_micros("ts").alias("ts_us"), "value")
    lags = [F.lag("value", k).over(w) for k in range(EMA_WINDOW)]
    terms = sum(
        (F.coalesce(lag * F.lit(wk), F.lit(0.0)).cast("decimal(24,12)")
         for lag, wk in zip(lags, _EMA_W)),
        start=F.lit(0).cast("decimal(24,12)"),
    )
    norm = sum(
        (F.when(lag.isNotNull(), F.lit(wk)).otherwise(0.0)
         .cast("decimal(24,12)")
         for lag, wk in zip(lags, _EMA_W)),
        start=F.lit(0).cast("decimal(24,12)"),
    )
    # Every lag NULL inside the horizon (an all-NULL value stream — the
    # failed-extractor day the degenerate sweep forces): the weight
    # normalizer is 0 and the EMA is undefined — NULL, not an ANSI 0/0.
    ema = F.when(norm.cast("double") == 0, F.lit(None).cast("double")) \
        .otherwise((terms.cast("double") / norm.cast("double"))
                   .cast("decimal(20,6)").cast("double"))
    return base.select(
        "user_id", "event_id", "ts_us",
        ema.alias("ema_value"),
    )


ROLLMED_FRAME = 25  # trailing rows per frame (24 preceding + current)


@query(
    "q_window_rolling_median",
    oracle=f"""
    WITH framed AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             list_sort(list(value) FILTER (value IS NOT NULL) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN {ROLLMED_FRAME - 1} PRECEDING AND CURRENT ROW
             )) AS vals
      FROM events
    )
    SELECT user_id, event_id, ts,
           CASE WHEN len(vals) = 0 THEN NULL
                WHEN len(vals) % 2 = 1
                THEN vals[(len(vals) + 1) // 2]
                ELSE (vals[len(vals) // 2] + vals[len(vals) // 2 + 1]) / 2.0
           END AS rolling_median
    FROM framed
    """,
    tags=("W14", "window"),
)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING EXACT MEDIAN: the trailing-25-row median of `value` per
    user — the robust running center (sensor smoothing, spike
    suppression) that W4's rolling mean cannot give, and the windowed
    form of A8's grouped median. No engine exposes exact median as a
    frame aggregate portably, so both sides materialize the frame
    (collect_list over a 25-row bounded frame), sort it, and index the
    middle — identical element picks and identical (a+b)/2 arithmetic,
    so the result is bit-exact with no quantization.

    Scale shape: one (user_id) partitioning + in-partition sort shared
    with every other per-user window; the frame buffer is bounded at 25
    doubles per row, so memory is O(frame), not O(partition). The
    even/odd middle arithmetic is spelled out rather than delegated to
    a built-in median/quantile (engines interpolate differently —
    a+(b-a)/2 vs (a+b)/2 differ in the last ulp)."""
    ev = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-(ROLLMED_FRAME - 1), 0))
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    # collect_list DROPS NULLs, so an all-NULL frame (failed-extractor
    # day) is EMPTY and element_at(…, 0) is an error under ANSI — the
    # median of no observations is NULL.
    return ev.select(
        "user_id", "event_id", "ts",
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1,
              F.element_at(vals, ((n + 1) / 2).cast("int")))
        .otherwise((F.element_at(vals, (n / 2).cast("int"))
                    + F.element_at(vals, (n / 2).cast("int") + 1)) / 2.0)
        .alias("rolling_median"),
    )


# ---- Pareto / revenue-concentration report -------------------------------

PARETO_BUCKETS = 10


@query(
    "q_agg_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT revenue,
             NTILE({PARETO_BUCKETS}) OVER (
               ORDER BY revenue DESC, o_custkey) AS decile
      FROM rev
    ), tot AS (
      SELECT CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS t
      FROM ranked
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
             AS decile_revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE)
             / (SELECT t FROM tot) AS revenue_share
    FROM ranked
    GROUP BY decile
    """,
    tags=("W7", "pareto"),
)
def q_agg_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO / CONCENTRATION report: customers bucketed into revenue
    deciles (NTILE over per-customer totals, (revenue, custkey)
    tiebreak for a total order), each decile's revenue and share — the
    "top 10% of customers drive X% of revenue" question, and the
    corpus-side twin of q_agg_gini's single-number concentration. The
    window runs over the CUSTOMER relation (post-aggregation), not
    orders: at 100 TB the global sort touches n_customers rows — if
    even that is too wide, the documented relaxation is A12-sketch
    decile cutpoints + one conditional pass, exactly the
    q_agg_histogram_eqdepth trade. Revenue sums exact-decimal; the
    share division is one IEEE op from exact sums."""
    o = load(spark, sf_dir, "orders")
    from ..compat import q as qd
    rev = o.groupBy("o_custkey").agg(
        F.sum(qd("o_totalprice")).cast("double").alias("revenue"))
    w = Window.orderBy(F.col("revenue").desc(), "o_custkey")
    ranked = rev.select(
        "revenue", F.ntile(PARETO_BUCKETS).over(w).alias("decile"))
    tot = ranked.agg(
        F.sum(F.col("revenue").cast("decimal(18,6)")).cast("double")
        .alias("t"))
    return (
        ranked.groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"),
             F.sum(F.col("revenue").cast("decimal(18,6)")).cast("double")
             .alias("decile_revenue"))
        .crossJoin(F.broadcast(tot))
        .select(F.col("decile").cast("int").alias("decile"),
                "n_customers", "decile_revenue",
                (F.col("decile_revenue") / F.col("t"))
                .alias("revenue_share"))
    )


# ---- Inter-arrival gap quantiles per event type --------------------------


@query(
    "q_window_gap_quantiles",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               AS gap_us
      FROM events
    ), ranked AS (
      SELECT event_type, gap_us,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY gap_us) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM g WHERE gap_us IS NOT NULL
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           MAX(CASE WHEN rk = CEIL(0.5 * n) THEN gap_us END) / 1000000.0
             AS p50_s,
           MAX(CASE WHEN rk = CEIL(0.95 * n) THEN gap_us END) / 1000000.0
             AS p95_s
    FROM ranked
    GROUP BY event_type
    """,
    tags=("W3", "A30", "inter-arrival"),
)
def q_window_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL GAP QUANTILES: per event type, exact p50/p95 of
    the time between a user's consecutive events of that type — the
    cadence fingerprint that feeds retry detection (p50 near zero),
    churn thresholds (p95 for "how long is unusually quiet"), and the
    session-gap constant W8 hardcodes (this query is how you'd pick it
    from data). Gaps come from one (user, type)-keyed lag pass; ranks
    are per-TYPE (5 windows over the gap relation) with the A30
    CEIL(p·n) definition; the one non-segmented sort is over gaps of a
    single type — the binned A27/A30 recipe swaps in at the scale
    where that bites. Integer microsecond gaps; one division at the
    end."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("us"))
    wl = W.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    g = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(wl)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    wr = W.partitionBy("event_type").orderBy("gap_us")
    wn = W.partitionBy("event_type")
    ranked = g.select(
        "event_type", "gap_us",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        (F.max(F.when(F.col("rk") == F.ceil(0.5 * F.col("n")),
                      F.col("gap_us"))) / 1000000.0).alias("p50_s"),
        (F.max(F.when(F.col("rk") == F.ceil(0.95 * F.col("n")),
                      F.col("gap_us"))) / 1000000.0).alias("p95_s"))


@query(
    "q_window_peer_zscore",
    oracle="""
    WITH st AS (
      SELECT s_nationkey,
             COUNT(*) AS n,
             CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             -- squares of 2-dp balances carry only 4 real decimals:
             -- rescaling the (38,12) sum to scale 4 drops ZEROS (exact)
             -- and brings the double cast under the 15-digit bound
             CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(19,6))
                           * CAST(s_acctbal AS DECIMAL(19,6)))
                       AS DECIMAL(30,4)) AS DOUBLE)
               AS s2
      FROM supplier GROUP BY s_nationkey
    )
    SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal,
           CASE WHEN st.n > 1
                     AND (st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1) > 0
                THEN (s.s_acctbal - st.s1 / st.n)
                     / sqrt((st.s2 - st.s1 * st.s1 / st.n) / (st.n - 1))
                ELSE 0.0 END AS peer_z
    FROM supplier s JOIN st ON s.s_nationkey = st.s_nationkey
    """,
    tags=("W7", "A8", "peer-zscore"),
)
def q_window_peer_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEER-RELATIVE Z-SCORE: every supplier's account balance scored
    against its NATION's distribution — the benchmarking normalization
    ("is this vendor unusual among its peers, not globally") behind
    outlier review queues and tiered credit policy. Peer moments come
    from one hash aggregate (A28's exact-decimal sufficient statistics
    with the DECIMAL(19,6) square convention; balances are bounded so
    the <=15-digit cast rule holds), broadcast back row-wise — no
    window over the full relation at all, so the shape is two narrow
    passes at any scale. Degenerate peers (singleton or zero-variance
    nations) pin to z = 0, the A31 NaN rule."""
    s = load(spark, sf_dir, "supplier")
    st = s.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(18,6)")).cast("double")
        .alias("s1"),
        F.sum(F.col("s_acctbal").cast("decimal(19,6)")
              * F.col("s_acctbal").cast("decimal(19,6)"))
        .cast("decimal(30,4)").cast("double").alias("s2"))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) \
        / (F.col("n") - 1)
    ok = (F.col("n") > 1) & (var > 0)
    z = F.when(ok, (F.col("s_acctbal") - F.col("s1") / F.col("n"))
               / F.sqrt(var)).otherwise(F.lit(0.0))
    return (
        s.join(F.broadcast(st), "s_nationkey")
        .select("s_suppkey", "s_nationkey", "s_acctbal",
                z.alias("peer_z"))
    )


# ---- Running-peak max drawdown (W32) ---------------------------------------


@query(
    "q_window_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             SUM(CAST(value AS DECIMAL(20,6))) AS dv
      FROM events GROUP BY 1, 2
    ),
    cumsum AS (
      SELECT event_type, day,
             SUM(dv) OVER (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_v
      FROM daily
    ),
    cum AS (
      SELECT event_type, day, cum_v,
             MAX(cum_v) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak_v
      FROM cumsum
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(cum_v) AS DOUBLE) AS peak_value,
           CAST(MAX(peak_v - cum_v) AS DOUBLE) AS max_drawdown,
           CAST(CAST(MAX(CASE WHEN peak_v > 0
                         THEN (peak_v - cum_v) / peak_v END)
                AS DECIMAL(18,6)) AS DOUBLE) AS max_drawdown_frac
    FROM cum
    GROUP BY event_type
    """,
    tags=("W32", "timeseries", "drawdown"),
)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX DRAWDOWN per event family: the daily net-value series
    cumulated, tracked against its running peak, and reported as the
    deepest peak-to-trough fall (absolute and as a fraction of the
    peak) — the risk statistic behind budget monitors, revenue health
    dashboards, and trading-style KPI reviews, and a windowing shape
    (running max OF a running sum) none of the existing W rows cover.

    Scale shape: the raw stream collapses to per-(type, day) decimal
    sums in one hash aggregate; both nested windows and the final
    aggregate then share ONE (event_type) partitioning over the
    day-cardinality-bounded relation — no second shuffle, no global
    sort. Cumulative sums are exact DECIMAL (order-insensitive); only
    the final fraction is quantized (one division)."""
    from ..compat import QDEC

    e = load(spark, sf_dir, "events")
    daily = (
        e.select("event_type",
                 F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
                 F.col("value").cast("decimal(20,6)").alias("v"))
        .groupBy("event_type", "day")
        .agg(F.sum("v").alias("dv")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = daily.select(
        "event_type", "day",
        F.sum("dv").over(w).alias("cum_v"))
    cum = cum.select(
        "event_type", "cum_v",
        F.max("cum_v").over(w).alias("peak_v"))
    frac = F.when(F.col("peak_v") > 0,
                  (F.col("peak_v") - F.col("cum_v")) / F.col("peak_v"))
    return cum.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("cum_v").cast("double").alias("peak_value"),
        F.max(F.col("peak_v") - F.col("cum_v")).cast("double")
        .alias("max_drawdown"),
        F.max(frac).cast(QDEC).cast("double").alias("max_drawdown_frac"))


# ---- Rolling cross-series correlation (W33) --------------------------------

ROLL_CORR_DAYS = 7  # trailing window, inclusive


@query(
    "q_window_rolling_corr",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             CAST(date_diff('day', DATE '1970-01-01',
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS BIGINT) AS day_no,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(20,6)) ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT day, COUNT(*) OVER w AS n,
             SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
             SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy,
             SUM(x * y) OVER w AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day_no
                   RANGE BETWEEN {ROLL_CORR_DAYS - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT day, CAST(n AS BIGINT) AS n_days,
           CASE WHEN n < 2
                     OR n * sxx - sx * sx <= 0
                     OR n * syy - sy * sy <= 0 THEN NULL
                ELSE CAST(CAST(
                  (n * sxy - sx * sy)
                  / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                  AS DECIMAL(18,6)) AS DOUBLE) END AS rolling_corr
    FROM rolled
    """,
    tags=("W33", "timeseries", "rolling-corr"),
)
def q_window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING {ROLL_CORR_DAYS}-DAY PEARSON CORRELATION between two
    derived daily series (purchase revenue vs click volume) — the
    co-movement monitor behind "did spend stop tracking traffic this
    week" alerts; a windowed RANGE-frame twin of the global A15
    correlation. The frame is a true date-RANGE window over an integer
    epoch-day key (identical on both engines, gap-robust: missing days
    shrink the frame rather than silently stretching it the way a
    rows-frame would).

    Scale shape: events collapse to one bounded daily relation in a
    single hash aggregate; ONE unpartitioned range window computes all
    five rolling moments (bounded-metadata pass, <=3650 rows/decade).
    Degenerate frames (n<2 or zero variance) are NULL on both sides;
    the correlation is 6-dp-quantized (division + sqrt)."""
    e = load(spark, sf_dir, "events")
    from ..compat import QDEC

    daily = (
        e.select(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            F.col("event_type"),
            F.col("value").cast("decimal(20,6)").alias("v"))
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("v"))
                  .otherwise(F.lit(0).cast("decimal(20,6)")))
            .cast("double").alias("x"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("double").alias("y"))
        .withColumn("day_no", F.datediff(F.col("day"),
                                         F.lit("1970-01-01").cast("date"))
                    .cast("bigint")))
    w = (Window.orderBy("day_no")
         .rangeBetween(-(ROLL_CORR_DAYS - 1), 0))
    x, y = F.col("x"), F.col("y")
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(x).over(w).alias("sx"), F.sum(y).over(w).alias("sy"),
        F.sum(x * x).over(w).alias("sxx"),
        F.sum(y * y).over(w).alias("syy"),
        F.sum(x * y).over(w).alias("sxy"))
    n = F.col("n")
    covn = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vxn = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vyn = n * F.col("syy") - F.col("sy") * F.col("sy")
    bad = (n < 2) | (vxn <= 0) | (vyn <= 0)
    corr = F.when(bad, F.lit(None).cast("double")).otherwise(
        (covn / F.sqrt(vxn * vyn)).cast(QDEC).cast("double"))
    return rolled.select(
        "day", n.cast("bigint").alias("n_days"),
        corr.alias("rolling_corr"))


# ---- Bollinger volatility bands (W37) ----------------------------------------

BOLL_WIN = 7     # rolling window, rows (days)
BOLL_K = 2       # band half-width in population sigmas


@query(
    "q_window_bollinger",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    rolled AS (
      SELECT event_type, day, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS rn,
             CAST(SUM(CAST(v AS DECIMAL(20,6))) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS s1,
             CAST(SUM(CAST(v * v AS DECIMAL(38,6))) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS s2
      FROM daily
    ),
    bands AS (
      SELECT event_type, day, v,
             s1 / {BOLL_WIN} AS mid,
             sqrt(CASE WHEN s2 / {BOLL_WIN}
                         - (s1 / {BOLL_WIN}) * (s1 / {BOLL_WIN}) < 0
                       THEN 0
                       ELSE s2 / {BOLL_WIN}
                         - (s1 / {BOLL_WIN}) * (s1 / {BOLL_WIN}) END)
               AS sd
      FROM rolled WHERE rn >= {BOLL_WIN}
    )
    SELECT event_type, day,
           CAST(CAST(v AS DECIMAL(18,6)) AS DOUBLE) AS v,
           CAST(CAST(mid AS DECIMAL(18,6)) AS DOUBLE) AS mid,
           CAST(CAST(mid - {BOLL_K} * sd AS DECIMAL(18,6)) AS DOUBLE)
             AS lower_band,
           CAST(CAST(mid + {BOLL_K} * sd AS DECIMAL(18,6)) AS DOUBLE)
             AS upper_band,
           v > mid + {BOLL_K} * sd OR v < mid - {BOLL_K} * sd
             AS breach
    FROM bands
    """,
    tags=("W37", "window", "volatility"),
)
def q_window_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS on each family's daily value series: {BOLL_WIN}-
    day rolling mean ± {BOLL_K} population sigmas, plus the breach
    flag — the adaptive-threshold anomaly envelope that A14's GLOBAL
    z-score can't give a nonstationary series (a level shift re-centers
    the bands within a window instead of flagging everything after it).
    W13's EWMA smooths the level; this reports the VOLATILITY corridor
    around it. Only days with a full window emit (rn >= {BOLL_WIN}) —
    no partial-window bands.

    Determinism: day sums are decimal-exact; rolling Σv and Σv² ride
    per-term-quantized ROWS windows over the daily relation (ONE sort
    per family — day-cardinality-bounded); mean/sigma/bands are single
    IEEE expressions over those exact sums, 6-dp-quantized. The
    negative-variance clamp guards the s2/n − mean² rounding edge
    identically on both engines."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", "ts")).alias("day"),
                       F.col("value").cast("decimal(20,6)").alias("dv"))
             .groupBy("event_type", "day")
             .agg(F.sum("dv").cast("double").alias("v")))
    wroll = (Window.partitionBy("event_type").orderBy("day")
             .rowsBetween(-(BOLL_WIN - 1), 0))
    wrn = Window.partitionBy("event_type").orderBy("day")
    rolled = daily.select(
        "event_type", "day", "v",
        F.row_number().over(wrn).alias("rn"),
        F.sum(F.col("v").cast("decimal(20,6)")).over(wroll)
        .cast("double").alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)")).over(wroll)
        .cast("double").alias("s2"))
    mid = F.col("s1") / BOLL_WIN
    var = F.col("s2") / BOLL_WIN - mid * mid
    sd = F.sqrt(F.when(var < 0, 0).otherwise(var))
    bands = rolled.where(F.col("rn") >= BOLL_WIN).select(
        "event_type", "day", "v", mid.alias("mid"), sd.alias("sd"))
    lo = F.col("mid") - BOLL_K * F.col("sd")
    hi = F.col("mid") + BOLL_K * F.col("sd")
    return bands.select(
        "event_type", "day",
        F.col("v").cast("decimal(18,6)").cast("double").alias("v"),
        F.col("mid").cast("decimal(18,6)").cast("double").alias("mid"),
        lo.cast("decimal(18,6)").cast("double").alias("lower_band"),
        hi.cast("decimal(18,6)").cast("double").alias("upper_band"),
        ((F.col("v") > hi) | (F.col("v") < lo)).alias("breach"))


# ---- RFM customer scoring (W38) ----------------------------------------------

NTILE_BINS = 256


def binned_ntile_scores(df: DataFrame, metrics: list[tuple[str, bool]],
                        k: int, tiebreak: str = "o_custkey",
                        bins: int = NTILE_BINS) -> DataFrame:
    """Exact NTILE(k) OVER (ORDER BY metric [DESC], tiebreak) for
    SEVERAL metrics in ONE pipeline, with NO global sort anywhere —
    the A27/A30 two-pass recipe applied to bucket ASSIGNMENT:

    1. melt the metrics to (tiebreak, which, sort_key) — descending
       metrics negate their sort key, so one ASC order serves all;
    2. one aggregate for per-metric (n, min, max), broadcast back;
    3. range-bin each sort key; a cumulative window over the
       ≤ metrics·``bins``-row BIN histogram gives every bin its
       global rank offset;
    4. row_number only WITHIN each (which, bin) partition (parallel
       across bins, never single-partition) + the bin offset = the
       exact global rank rn under (metric dir, tiebreak);
    5. closed-form NTILE from (rn, n): q = n div k, r = n mod k —
       the first r·(q+1) ranks get bucket ceil(rn/(q+1)), the rest
       r + ceil((rn - r·(q+1))/q). Matches NTILE() bit-for-bit
       (equal metrics share a bin, so the tiebreak never crosses a
       bin boundary);
    6. pivot back to one row per ``tiebreak`` with a ``<name>_score``
       column per metric (conditional agg, no join).

    Skew note: a constant-heavy metric piles its ties into one bin —
    the within-bin sort then carries that tie block, which is exactly
    the skew NTILE itself would serialize globally; bins bound the
    damage to the tie block."""
    melted = df.select(tiebreak, F.explode(F.array(*[
        F.struct(F.lit(name).alias("w"),
                 (-F.col(name) if desc else F.col(name))
                 .cast("double").alias("skey"))
        for name, desc in metrics])).alias("e")) \
        .select(tiebreak, "e.w", "e.skey")
    stats = melted.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("skey").alias("lo"), F.max("skey").alias("hi"))
    span = F.col("hi") - F.col("lo")
    bin_ = F.when(span == 0, F.lit(0)).otherwise(
        F.least(F.floor((F.col("skey") - F.col("lo")) * bins / span),
                F.lit(bins - 1))).cast("int")
    binned = melted.join(F.broadcast(stats), "w").select(
        tiebreak, "w", "skey", "n", bin_.alias("bin"))
    hist = binned.groupBy("w", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = (Window.partitionBy("w").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = hist.select(
        "w", "bin",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off"))
    wr = Window.partitionBy("w", "bin").orderBy("skey", F.asc(tiebreak))
    ranked = (binned.join(F.broadcast(offs), ["w", "bin"])
              .select(tiebreak, "w", "n",
                      (F.col("off") + F.row_number().over(wr))
                      .alias("rn")))
    # All-integer closed form (ceil(a/b) = (a+b-1) div b); the ELSE
    # branch's greatest(q,1) guard is unreachable when q = 0 (then
    # cut = n) but keeps the expression total.
    score = F.expr(f"""
        CASE WHEN rn <= (n % {k}) * (n div {k} + 1)
             THEN (rn + n div {k}) div (n div {k} + 1)
             ELSE (n % {k})
                  + (rn - (n % {k}) * (n div {k} + 1)
                     + greatest(n div {k}, 1) - 1)
                    div greatest(n div {k}, 1)
        END""")
    scored = ranked.select(tiebreak, "w", score.cast("int").alias("s"))
    return scored.groupBy(tiebreak).agg(*[
        F.max(F.when(F.col("w") == name, F.col("s")))
        .alias(f"{name}_score")
        for name, _ in metrics])


@query(
    "q_window_rfm",
    oracle="""
    WITH horizon AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders
    ),
    base AS (
      SELECT o_custkey,
             CAST(h - MAX(CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
               AS monetary
      FROM orders, horizon GROUP BY o_custkey, h
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
               AS r_score,
             NTILE(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM base
    )
    SELECT o_custkey,
           recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(CAST(monetary AS DECIMAL(18,6)) AS DOUBLE) AS monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT)
             AS rfm_cell
    FROM scored
    """,
    tags=("W38", "window", "segmentation"),
)
def q_window_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION: every customer scored 1-5 on Recency (days
    since last order, 5 = most recent), Frequency, and Monetary via
    exact NTILE(5) quintiles, combined into the 111-555 cell — the
    classic actionable customer segmentation (555 = champions, 1xx =
    churned) that turns three skewed raw metrics into a comparable
    grid; the per-customer companion to A61's population-level Lorenz
    read.

    Determinism: every quintile rides a TOTAL order (metric + custkey
    tiebreak), so boundaries are reproducible across engines and
    partitionings — the A61 discipline. The oracle keeps the textbook
    NTILE() windows, hash-proving the binned recomputation is
    identity.

    Scale (r10 verdict item 5 — the documented "A30 relaxation",
    actually composed): NO metric is ever globally sorted. Each score
    is the A27/A30 two-pass exact rank — bin by metric range
    (broadcast min/max), cumulative bin offsets over the ≤256-row BIN
    relation, row_number only WITHIN each (bin) partition — plus the
    closed-form NTILE assignment from (rank, n): with q = n div k,
    r = n mod k, bucket = ceil(rank/(q+1)) for the first r·(q+1) rows
    else r + ceil((rank - r·(q+1))/q). The only single-partition stage
    is the bin-histogram cumsum (bounded metadata); the customer
    relation itself is touched by bin-keyed exchanges only."""
    o = load(spark, sf_dir, "orders")
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    base = (o.crossJoin(F.broadcast(horizon))
            .groupBy("o_custkey", "h")
            .agg(F.max(F.to_date("o_orderdate")).alias("last_d"),
                 F.count(F.lit(1)).alias("frequency"),
                 F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
                 .cast("double").alias("monetary"))
            .select("o_custkey",
                    F.datediff("h", "last_d").cast("bigint")
                    .alias("recency_days"),
                    "frequency", "monetary"))
    # The customer-grain relation feeds the melted scorer AND the
    # final join — share it or the orders scan and collapse re-run per
    # consumer.
    base = share(base)
    scores = binned_ntile_scores(
        base, [("recency_days", True), ("frequency", False),
               ("monetary", False)], 5)
    scored = base.join(scores, "o_custkey").select(
        "o_custkey", "recency_days", "frequency", "monetary",
        F.col("recency_days_score").alias("r_score"),
        F.col("frequency_score").alias("f_score"),
        F.col("monetary_score").alias("m_score"))
    return scored.select(
        "o_custkey", "recency_days",
        F.col("frequency").cast("bigint").alias("frequency"),
        F.col("monetary").cast("decimal(18,6)").cast("double")
        .alias("monetary"),
        F.col("r_score").cast("int").alias("r_score"),
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        (F.col("r_score") * 100 + F.col("f_score") * 10
         + F.col("m_score")).cast("int").alias("rfm_cell"))


# ---- W50: 2-D Pareto skyline (dominance frontier) -------------------------


@query(
    "q_window_skyline",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_brand, p_retailprice AS price, p_size AS size
      FROM part
    )
    SELECT a.p_brand,
           a.price,
           CAST(a.size AS BIGINT) AS size
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.p_brand = a.p_brand
        AND b.price <= a.price AND b.size >= a.size
        AND (b.price < a.price OR b.size > a.size)
    )
    """,
    tags=("W50", "window", "skyline"),
)
def q_window_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PARETO SKYLINE per brand: the distinct (price, size) points
    no other same-brand part dominates (dominates = no-worse on both
    dims, strictly better on one; price lower-is-better, size
    higher-is-better) — the multi-objective shortlist operator
    ("cheapest-and-largest frontier") classic OLAP ships as SKYLINE /
    Pareto-optimal filters.

    Spark-first shape: the textbook NOT EXISTS is a QUADRATIC
    per-group self-anti-join; this plans the O(n log n) sweep instead
    — sort each brand by (price ASC, size DESC), keep a point iff its
    size strictly exceeds the running max over all preceding rows
    (every preceding point has no-worse price, so a point is on the
    frontier iff it beats all of them on size; the DESC size tiebreak
    makes same-price groups keep exactly their largest). ONE
    partitioned window over the distinct relation, no self-join — the
    oracle keeps the quadratic NOT EXISTS, so the gate proves the
    sweep and the definition agree point-for-point. Dominance is pure
    comparison (no arithmetic), so double prices compare identically
    in both engines.

    Scale: distinct → one shuffle on p_brand for the window; at 100 TB
    the frontier sweep stays n log n per brand while the NOT EXISTS
    form would be n² per brand. Skew-safe for real catalogs (brands
    bound partition width); a single-key degenerate corpus degrades to
    one sorted partition, not a crash."""
    pts = (
        load(spark, sf_dir, "part")
        .select("p_brand", F.col("p_retailprice").alias("price"),
                F.col("p_size").alias("size"))
        .distinct()
    )
    w = (Window.partitionBy("p_brand")
         .orderBy(F.asc("price"), F.desc("size"))
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        pts.withColumn("prev_max", F.max("size").over(w))
        .where(F.col("prev_max").isNull()
               | (F.col("size") > F.col("prev_max")))
        .select("p_brand", "price", F.col("size").cast("bigint")
                .alias("size"))
    )
