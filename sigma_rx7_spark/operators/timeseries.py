"""Time-series resample / hypertable rollup (SURVEY.md §2.5 W4 family,
extended per the north-star custom-operator mandate).

The reference's "clinical history" queries (reference README.md:3) imply
regular-grid views over irregular event times; the general operator is
*resample with gap fill*: bucket events to a fixed grain, then emit every
grid bucket in each key's active range — including empty ones — so
downstream windows/exports see a dense series.

Spark-first: the dense grid is ``sequence(min_bucket, max_bucket,
interval)`` exploded per key — generated, never materialized as input —
then a left join from grid to the bucketed aggregate. Both shuffles key
on (user, bucket); at 100 TB the grid side is tiny relative to events
(one row per key-bucket, bounded by range/grain, independent of event
volume) and AQE picks the join strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..materialize import share
from ..registry import query


def resample_gapfill(events: DataFrame, key: str, ts: str, grain: str,
                     aggs: list, fill: dict) -> DataFrame:
    """Dense per-key time grid at ``grain`` with gap-filled aggregates.

    aggs: list of aggregate Columns over the bucketed events; fill: map
    of output column -> fill value for empty buckets.
    """
    bucketed = events.select(
        F.col(key), F.date_trunc(grain, F.col(ts)).alias("_bucket"),
        *[c for c in events.columns if c not in (key, ts)],
    )
    per_bucket = bucketed.groupBy(key, "_bucket").agg(*aggs)
    grid = (
        bucketed.groupBy(key)
        .agg(F.min("_bucket").alias("_lo"), F.max("_bucket").alias("_hi"))
        .select(
            F.col(key),
            F.explode(F.sequence(
                "_lo", "_hi", F.expr(f"interval 1 {grain}")
            )).alias("_bucket"),
        )
    )
    out = grid.join(per_bucket, [key, "_bucket"], "left")
    for col, val in fill.items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
    return out


@query(
    "q_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv
      FROM events
      GROUP BY 1, 2
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
               AS bucket
      FROM (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
            FROM b GROUP BY user_id)
    )
    SELECT g.user_id,
           g.bucket AS hour_start,
           COALESCE(b.n, 0) AS n_events,
           COALESCE(b.sv, 0.0) AS sum_value
    FROM grid g
    LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
    """,
    tags=("W4", "timeseries", "gapfill"),
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with gap fill per user: every hour in each user's
    active range appears, empty hours as (0, 0.0) — the hypertable-
    rollup/dense-series operator. The grid is generated per key with
    ``sequence``, never read as input."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = resample_gapfill(
        ev, key="user_id", ts="ts", grain="hour",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            .alias("sum_value"),
        ],
        fill={"n_events": 0, "sum_value": 0.0},
    )
    return out.select(
        "user_id", F.col("_bucket").alias("hour_start"),
        "n_events", "sum_value",
    )


@query(
    "q_fill_forward",
    oracle="""
    SELECT
      user_id,
      event_id,
      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      LAST_VALUE(CASE WHEN event_type = 'view' THEN NULL ELSE value END
                 IGNORE NULLS)
        OVER (PARTITION BY user_id
              ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
              ROWS UNBOUNDED PRECEDING) AS value_filled
    FROM events
    """,
    tags=("W5", "timeseries", "locf"),
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill / LOCF: carry the last observed value over gaps per
    key (here 'view' events are treated as missing observations) — the
    standard way a sparse clinical measurement becomes a dense covariate
    series (reference README.md:3 "clinical history"). One window, one
    shuffle; the (ts, event_id) tiebreak makes the fill total-ordered and
    therefore partition-count-independent."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    observed = F.when(F.col("event_type") != "view", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select("user_id", "event_id",
                  F.unix_micros("ts").alias("ts_us"),
                  observed.alias("_obs"))
        .select("user_id", "event_id", "ts_us",
                F.last("_obs", ignorenulls=True).over(w)
                .alias("value_filled"))
    )


SESSION_GAP_MIN = 30  # inactivity gap that closes a session


@query(
    "q_sessionize_batch",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL
                    OR ts_us - prev_us > {SESSION_GAP_MIN} * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM t
    ), numbered AS (
      SELECT user_id, event_id, ts_us,
             -- DuckDB windowed SUM(int) yields HUGEINT, which the harness
             -- canonicalizes as float64; cast to match Spark's bigint.
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_idx
    """,
    tags=("W5", "timeseries", "sessionize"),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): per-user sessions split at
    >30 min of inactivity — the encounter-grouping view of a visit/event
    history (reference README.md:3), and the batch mirror of the streaming
    ``session_window`` query (q_stream_sessions).

    One window pass (lag + running sum share the same (user, ts, id)
    ordering, so Catalyst plans ONE sort/shuffle) feeding one hash
    aggregate — no self-join, no driver logic. The (ts_us, event_id)
    tiebreak gives a total order, so session boundaries are identical at
    any partition count and in both engines."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = F.lit(SESSION_GAP_MIN * 60 * 1_000_000)
    prev = F.lag("ts_us").over(order_w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_us") - prev > gap_us), 1
    ).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select(
        "user_id", "event_id", "ts_us", new_session.alias("new_session"))
    numbered = flagged.select(
        "user_id", "event_id", "ts_us",
        F.sum("new_session").over(run_w).alias("session_idx"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q_rollup_timegrain",
    oracle="""
    WITH e AS (
      SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m,
             date_trunc('hour',   CAST(ts AS TIMESTAMP)) AS h,
             date_trunc('day',    CAST(ts AS TIMESTAMP)) AS d,
             value
      FROM events
    )
    SELECT
      CASE WHEN GROUPING(m) = 0 THEN 'minute'
           WHEN GROUPING(h) = 0 THEN 'hour'
           ELSE 'day' END AS grain,
      COALESCE(m, h, d) AS bucket_ts,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM e
    GROUP BY GROUPING SETS ((m), (h), (d))
    """,
    tags=("W4", "A5", "timeseries", "rollup"),
)
def q_rollup_timegrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    shape): minute, hour, and day grains of the event stream computed in
    ONE pass via GROUPING SETS — one scan + one expand(3x) + one
    partial/final aggregation, where the naive form is three scans and
    three shuffles. At 100 TB the fine grain dominates output size and
    the coarse grains come along nearly free, which is exactly why
    warehouse rollups are built this way (then persisted incrementally
    per arriving partition)."""
    src = load(spark, sf_dir, "events").select(
        F.date_trunc("minute", "ts").alias("m"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        "value",
    )
    return spark.sql("""
        SELECT
          CASE WHEN grouping(m) = 0 THEN 'minute'
               WHEN grouping(h) = 0 THEN 'hour'
               ELSE 'day' END AS grain,
          coalesce(m, h, d) AS bucket_ts,
          count(*) AS n_events,
          CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        FROM {src}
        GROUP BY GROUPING SETS ((m), (h), (d))
    """, src=src)


@query(
    "q_cohort_retention",
    oracle="""
    WITH f AS (
      -- date_trunc('day', ...) yields DATE in DuckDB; cast back to
      -- TIMESTAMP to match Spark's date_trunc output type.
      SELECT user_id,
             CAST(MIN(date_trunc('day', CAST(ts AS TIMESTAMP)))
                  AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    ), a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS active_day
      FROM events
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.active_day) AS INT)
             AS day_offset,
           COUNT(*) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """,
    tags=("W4", "analytics", "retention"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day; for each
    (cohort, day-offset) the count of cohort members active that day —
    the standard product-analytics retention triangle.

    Scale shape: both the first-day aggregate and the distinct
    user-day relation key their shuffles on user_id, and the join is
    user_id-to-user_id, so Catalyst reuses one hash partitioning across
    all three steps; the final (cohort, offset) aggregate is bounded by
    days x offsets, not events."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("active_day"))
    # ONE event scan: first-day derives FROM the distinct user-day
    # relation (min over distinct days == min over raw), and that
    # relation is shared by its two consumers — without this the raw
    # event scan ran twice.
    active = share(ev.distinct())
    first = active.groupBy("user_id").agg(
        F.min("active_day").alias("cohort_day"))
    return (
        active.join(first, "user_id")
        .select(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "q_funnel_steps",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
        AND CAST(e.ts AS TIMESTAMP) > v.t1
        AND CAST(e.ts AS TIMESTAMP) <= v.t1 + INTERVAL 24 HOUR
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
        AND CAST(e.ts AS TIMESTAMP) > c.t2
        AND CAST(e.ts AS TIMESTAMP) <= c.t2 + INTERVAL 24 HOUR
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS stage_reached,
           COUNT(*) AS n_users
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    GROUP BY stage_reached
    """,
    tags=("W4", "analytics", "funnel"),
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered windowed funnel: users who viewed, then clicked within
    24 h AFTER their first view, then purchased within 24 h after that
    first qualifying click — counted by deepest stage reached. The
    ordering-plus-window constraint (each step inside a bounded interval
    after the previous step) is what distinguishes a conversion funnel
    from three independent filters.

    Scale shape: each stage is a user-keyed aggregate of a
    type-filtered slice joined back to the previous stage's (user,
    min_ts) relation — every shuffle keys on user_id, so the
    partitioning is computed once and reused; stage relations only
    shrink. No windows over full history, no event-to-event pair
    space."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(etype: str, prev: DataFrame, prev_ts: str,
                    out_ts: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where((F.col("ts") > F.col(prev_ts))
                   & (F.col("ts") <= F.col(prev_ts)
                      + F.expr("interval 24 hours")))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = first_after("click", v, "t1", "t2")
    p = first_after("purchase", c, "t2", "t3")
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(stage.alias("stage_reached"))
        .groupBy("stage_reached")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_interp_linear",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CASE WHEN event_type = 'view' THEN NULL ELSE value END AS obs
      FROM events
    ), nb AS (
      SELECT user_id, event_id, ts_us, obs,
             LAST_VALUE(CASE WHEN obs IS NOT NULL THEN ts_us END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_ts,
             LAST_VALUE(obs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_v,
             FIRST_VALUE(CASE WHEN obs IS NOT NULL THEN ts_us END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_ts,
             FIRST_VALUE(obs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_v
      FROM t
    )
    SELECT user_id, event_id, ts_us,
           obs IS NULL AS was_missing,
           CAST(CAST(
             CASE
               WHEN obs IS NOT NULL THEN obs
               WHEN p_v IS NOT NULL AND n_v IS NOT NULL THEN
                 p_v + (n_v - p_v)
                     * (CAST(ts_us - p_ts AS DOUBLE)
                        / CAST(greatest(n_ts - p_ts, 1) AS DOUBLE))
               WHEN p_v IS NOT NULL THEN p_v
               ELSE n_v
             END AS DECIMAL(20,6)) AS DOUBLE) AS value_interp
    FROM nb
    """,
    tags=("W5", "timeseries", "interpolate"),
)
def q_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing observations per key — the
    upgrade of q_fill_forward's step-function LOCF to a continuous
    estimate: a masked reading ('view' events stand in for missing
    sensor values) is reconstructed from its nearest observed neighbors
    on both sides, weighted by event-time distance; leading/trailing
    gaps degrade to nearest-neighbor fill. The imputation stage of a
    measurement → dense-covariate pipeline (reference README.md:3
    "clinical history").

    Shape: ONE window ordering (ts, event_id — total, so partition-count
    independent) serves all four neighbor lookups; Spark evaluates them
    in a single Window exec, one shuffle by user_id. The interpolation
    weight is exact integer µs arithmetic divided once in double;
    the result is 6-dp quantized (compat.py) because the weighted form
    multiplies neighbor doubles — same convention as q_agg_corr."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    obs = F.when(F.col("event_type") != "view", F.col("value"))
    t = ev.select("user_id", "event_id",
                  F.unix_micros("ts").alias("ts_us"), obs.alias("obs"))
    order = ["ts_us", "event_id"]
    wp = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, -1))
    wn = (Window.partitionBy("user_id").orderBy(*order)
          .rowsBetween(1, Window.unboundedFollowing))
    obs_ts = F.when(F.col("obs").isNotNull(), F.col("ts_us"))
    nb = t.select(
        "user_id", "event_id", "ts_us", "obs",
        F.last(obs_ts, ignorenulls=True).over(wp).alias("p_ts"),
        F.last("obs", ignorenulls=True).over(wp).alias("p_v"),
        F.first(obs_ts, ignorenulls=True).over(wn).alias("n_ts"),
        F.first("obs", ignorenulls=True).over(wn).alias("n_v"),
    )
    p_v, n_v = F.col("p_v"), F.col("n_v")
    # greatest(span, 1) divisor floor: neighbors at the SAME microsecond
    # (total key collapse — the single_key degenerate profile) make the
    # span 0, but then the numerator is 0 too (p_ts <= ts_us <= n_ts),
    # so frac = 0 and the interpolation lands exactly on p_v — the LOCF
    # limit — instead of an ANSI DIVIDE_BY_ZERO. Dead on harness data
    # (distinct event timestamps); mirrored in the oracle.
    frac = ((F.col("ts_us") - F.col("p_ts")).cast("double")
            / F.greatest(F.col("n_ts") - F.col("p_ts"), F.lit(1))
            .cast("double"))
    interp = (
        F.when(F.col("obs").isNotNull(), F.col("obs"))
        .when(p_v.isNotNull() & n_v.isNotNull(),
              p_v + (n_v - p_v) * frac)
        .when(p_v.isNotNull(), p_v)
        .otherwise(n_v)
    )
    return nb.select(
        "user_id", "event_id", "ts_us",
        F.col("obs").isNull().alias("was_missing"),
        interp.cast("decimal(20,6)").cast("double").alias("value_interp"),
    )


@query(
    "q_window_twap",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS next_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(next_us - t_us) AS BIGINT) AS span_us,
           CASE WHEN SUM(next_us - t_us) = 0 THEN NULL
           ELSE CAST(CAST(
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(next_us - t_us AS DECIMAL(20,0))) AS DOUBLE)
             / CAST(SUM(next_us - t_us) AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) END AS twap
    FROM stepped
    WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("W16", "timeseries", "twap"),
)
def q_window_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE (TWAP): per user, the mean of `value` under
    step-function semantics — each observation holds until the next one,
    so its weight is the µs gap to the successor (the finance/monitoring
    average that row-count means get WRONG on irregular series: a value
    held for an hour must outweigh ten ticks from one busy second). The
    trailing observation has no successor and carries zero weight
    (half-open step convention).

    Determinism: weights are exact integer µs; the weighted sum runs in
    DECIMAL(18,6)×DECIMAL(20,0) exact products (order-insensitive);
    the single closing division is 6-dp-quantized because the wide
    decimal→double cast is the known 1-ulp cross-engine hazard
    (SCALE.md). One (user_id) window ordering + one hash aggregation on
    the same partitioning — the exchange is shared."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", "ts")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros("ts")
    stepped = ev.select(
        "user_id",
        F.col("value"),
        t_us.alias("t_us"),
        F.lead(t_us).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    gap = F.col("next_us") - F.col("t_us")
    wsum = F.sum(F.col("value").cast("decimal(18,6)")
                 * gap.cast("decimal(20,0)"))
    # zero total span (every observation at one instant — the
    # single_key degenerate profile): the step-function mean is 0/0,
    # undefined — NULL is the contract, not an ANSI crash. Dead on
    # harness data; the lazy CASE sits on a per-key AGGREGATE row
    # (not the per-row hot path), so the eval-family guard-cost
    # lesson does not apply. Mirrored in the oracle.
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(gap).cast("bigint").alias("span_us"),
        F.when(F.sum(gap) == 0, F.lit(None).cast("double"))
        .otherwise((wsum.cast("double") / F.sum(gap).cast("double"))
                   .cast("decimal(18,6)").cast("double")).alias("twap"),
    )


# ---- Multi-touch attribution ---------------------------------------------

ATTR_LOOKBACK_DAYS = 7


@query(
    "q_attribution_multitouch",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts,
             value FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT event_id AS t_id, user_id, CAST(ts AS TIMESTAMP) AS t_ts,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ), joined AS (
      SELECT p.p_id, p.value, t.t_id, t.t_ts, t.channel
      FROM p LEFT JOIN t
        ON p.user_id = t.user_id
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL {ATTR_LOOKBACK_DAYS} DAY
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY t_ts, t_id) AS rn_f,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY t_ts DESC, t_id DESC) AS rn_l,
             COUNT(t_id) OVER (PARTITION BY p_id) AS n_total
      FROM joined
    )
    SELECT p_id,
           COALESCE(channel, '(direct)') AS channel,
           CAST(COUNT(t_id) AS INT) AS touches_in_channel,
           CAST(MAX(n_total) AS INT) AS total_touches,
           CASE WHEN MAX(n_total) = 0 THEN MAX(value)
                ELSE MAX(value) * COUNT(t_id) / MAX(n_total)
           END AS linear_credit,
           MAX(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) = 1 AS is_first,
           MAX(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) = 1 AS is_last
    FROM ranked
    GROUP BY p_id, COALESCE(channel, '(direct)')
    """,
    tags=("W11", "attribution"),
)
def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION: every purchase credits the click/view
    touches in its {ATTR_LOOKBACK_DAYS}-day lookback — linear credit
    (value × touches_in_channel / total) per (purchase, channel), plus
    first-/last-touch channel flags from one ranked pass; touchless
    purchases surface as an explicit '(direct)' bucket via the left
    join, so conversion value is conserved across the output by
    construction.

    The output is the per-purchase attribution DETAIL relation (the
    derived fact table a warehouse materializes), deliberately not a
    channel rollup: per-row credits are pure IEEE arithmetic on
    parquet-identical inputs (engine-exact with no quantization), while
    summing value/n quotients would hit the quotient-requantization
    hazard documented in SCALE.md. Scale shape: one user-keyed join
    whose pair space is bounded per user by the lookback window, one
    purchase-keyed window pass, one purchase-channel aggregate — no
    full-history windows."""
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.col("ts").alias("p_ts"), "value")
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"), F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"), F.col("event_type").alias("channel"))
    joined = p.join(
        t, (p.user_id == t.t_user)
        & (t.t_ts < p.p_ts)
        & (t.t_ts >= p.p_ts - F.expr(
            f"interval {ATTR_LOOKBACK_DAYS} days")),
        "left")
    wf = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").asc(), F.col("t_id").asc())
    wl = Window.partitionBy("p_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc())
    wn = Window.partitionBy("p_id")
    ranked = joined.select(
        "p_id", "value", "t_id", "channel",
        F.row_number().over(wf).alias("rn_f"),
        F.row_number().over(wl).alias("rn_l"),
        F.count("t_id").over(wn).alias("n_total"))
    n = F.max("n_total")
    return (
        ranked.groupBy("p_id", F.coalesce(
            F.col("channel"), F.lit("(direct)")).alias("channel"))
        .agg(F.count("t_id").cast("int").alias("touches_in_channel"),
             n.cast("int").alias("total_touches"),
             F.when(n == 0, F.max("value"))
             .otherwise(F.max("value") * F.count("t_id") / n)
             .alias("linear_credit"),
             (F.max(F.when(F.col("rn_f") == 1, 1).otherwise(0)) == 1)
             .alias("is_first"),
             (F.max(F.when(F.col("rn_l") == 1, 1).otherwise(0)) == 1)
             .alias("is_last"))
    )


# ---- Session event-pattern matching (CEP over sessionized history) -------

_EVT_CHAR = {"view": "v", "click": "c", "purchase": "p",
             "signup": "s", "error": "e"}
PAT_CONVERT = "v.*c.*p"   # view, later a click, later a purchase


@query(
    "q_pattern_sessions",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CASE event_type
               WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
               WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
               ELSE 'e' END AS ch,
             LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               AS prev_us
      FROM events
    ), numbered AS (
      SELECT user_id, event_id, ts_us, ch,
             CAST(SUM(CASE WHEN prev_us IS NULL
                             OR ts_us - prev_us > {SESSION_GAP_MIN} * 60 * 1000000
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM t
    )
    SELECT user_id, session_idx,
           string_agg(ch, '' ORDER BY ts_us, event_id) AS seq,
           CAST(COUNT(*) AS INT) AS n_events,
           regexp_matches(string_agg(ch, '' ORDER BY ts_us, event_id),
                          '{PAT_CONVERT}') AS converted,
           COUNT(*) = 1 AS bounce,
           contains(string_agg(ch, '' ORDER BY ts_us, event_id), 'ee')
             AS error_burst
    FROM numbered
    GROUP BY user_id, session_idx
    """,
    tags=("W8", "cep", "pattern"),
)
def q_pattern_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-PATTERN MATCHING over sessionized history (the batch form
    of MATCH_RECOGNIZE-style CEP): each session's ordered event-type
    sequence collapses to a compact symbol string, and patterns become
    plain regexes over it — conversion paths ('{PAT_CONVERT}'),
    single-event bounces, error bursts ('ee'). The sequence string IS
    the session fingerprint a funnel/UX analysis mines.

    Scale shape: q_sessionize_batch's single (user)-keyed window pass
    numbers sessions, then ONE hash aggregate builds each session's
    string via sort_array(collect_list(struct)) — per-session payload
    is bounded by session length (inactivity-capped), the regex runs
    per SESSION not per event, and nothing re-shuffles after the first
    exchange. Total (ts, event_id) order makes every sequence string
    byte-identical at any partition count."""
    from pyspark.sql import Window

    ch = F.create_map(
        *[F.lit(x) for kv in _EVT_CHAR.items() for x in kv]
    )[F.col("event_type")]
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"),
        ch.alias("ch"))
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = F.lit(SESSION_GAP_MIN * 60 * 1_000_000)
    prev = F.lag("ts_us").over(order_w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_us") - prev > gap_us), 1).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)
    numbered = ev.select(
        "user_id", "event_id", "ts_us", "ch",
        F.sum(new_session).over(run_w).alias("session_idx"))
    seq = F.concat_ws("", F.transform(
        F.array_sort(F.collect_list(
            F.struct("ts_us", "event_id", "ch"))),
        lambda x: x["ch"]))
    return (
        numbered.groupBy("user_id", "session_idx")
        .agg(seq.alias("seq"),
             F.count(F.lit(1)).cast("int").alias("n_events"))
        .select("user_id", "session_idx", "seq", "n_events",
                F.col("seq").rlike(PAT_CONVERT).alias("converted"),
                (F.col("n_events") == 1).alias("bounce"),
                F.col("seq").contains("ee").alias("error_burst"))
    )


# ---- Event-type transition matrix (first-order Markov) -------------------


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               AS next_type
      FROM events
    ), cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM cnt
    """,
    tags=("W3", "markov", "transitions"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV TRANSITION MATRIX of the event stream: per
    (from_type, to_type), the count of consecutive same-user pairs and
    the row-normalized transition probability — the behavioral model
    behind next-action prediction, funnel-leak diagnosis ("where do
    users go after an error?") and synthetic-session generation. One
    user-keyed window pass (the lead shares q_sessionize_batch's
    single-sort discipline), then a 25-cell aggregate; the normalizing
    window runs over the CELL relation (types², tiny) so the
    probability division is one IEEE op from integer counts — exact in
    both engines without quantization."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type"))
    cnt = (seq.where(F.col("next_type").isNotNull())
           .groupBy(F.col("event_type").alias("from_type"),
                    F.col("next_type").alias("to_type"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wn = Window.partitionBy("from_type")
    return cnt.select(
        "from_type", "to_type", "n",
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias("p"))


@query(
    "q_funnel_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS v_us
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
      SELECT e.user_id,
             MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS p_us
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.v_us
      GROUP BY e.user_id
    ), lat AS (
      SELECT p.user_id, (p.p_us - v.v_us) / 1000000 AS dt_s,
             ROW_NUMBER() OVER (ORDER BY p.p_us - v.v_us, p.user_id)
               AS rk,
             COUNT(*) OVER () AS n
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converters,
           MAX(CASE WHEN rk = CEIL(0.5 * n) THEN dt_s END) AS p50_s,
           MAX(CASE WHEN rk = CEIL(0.95 * n) THEN dt_s END) AS p95_s
    FROM lat
    """,
    tags=("W11", "latency", "quantile"),
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION LATENCY: time from a user's first view to their first
    subsequent purchase, summarized as exact p50/p95 (CEIL(p·n) rank,
    the A30 definition) — the "how long does the funnel take"
    companion to q_funnel_steps' "how many make it". Stage relations
    are per-USER aggregates (events collapse before any join), so the
    quantile window runs over converters only — a relation orders of
    magnitude under the event volume; at 100 TB the A27/A30 binned
    recipe swaps in if even that is too wide. Latencies are integer
    microsecond differences divided once — engine-exact."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts_us").alias("v_us")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(v, "user_id")
         .where(F.col("ts_us") > F.col("v_us"))
         .groupBy("user_id").agg(F.min("ts_us").alias("p_us")))
    lat = p.join(v, "user_id").select(
        "user_id", ((F.col("p_us") - F.col("v_us")) / 1000000)
        .alias("dt_s"))
    w = Window.orderBy(F.col("dt_s"), "user_id")
    ranked = lat.select(
        "dt_s", F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))).alias("n"))
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converters"),
        F.max(F.when(F.col("rk") == F.ceil(0.5 * F.col("n")),
                     F.col("dt_s"))).alias("p50_s"),
        F.max(F.when(F.col("rk") == F.ceil(0.95 * F.col("n")),
                     F.col("dt_s"))).alias("p95_s"))


@query(
    "q_percentile_bands_daily",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             value
      FROM events WHERE event_type = 'purchase'
    ), ranked AS (
      SELECT day, value,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY value) AS rk,
             COUNT(*) OVER (PARTITION BY day) AS n
      FROM d
    )
    SELECT day,
           CAST(MAX(n) AS BIGINT) AS n_purchases,
           MAX(CASE WHEN rk = CEIL(0.5 * n) THEN value END) AS p50,
           MAX(CASE WHEN rk = CEIL(0.95 * n) THEN value END) AS p95
    FROM ranked
    GROUP BY day
    """,
    tags=("W12", "A30", "sla-bands"),
)
def q_percentile_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY PERCENTILE BANDS: exact p50/p95 of purchase value per
    calendar day — the SLO/monitoring band chart (median line, tail
    band) that a mean-per-day series hides outliers from. Day is the
    partition key, so every rank window is day-local: the sort is
    segmented by the same key the aggregate uses, one shuffle total,
    and days are embarrassingly parallel — this exact shape scales to
    any history length because no window ever crosses a day boundary.
    A30's CEIL(p·n) rank definition; values compared raw (parquet
    doubles, no arithmetic)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").alias("day"), "value")
    wr = W.partitionBy("day").orderBy("value")
    wn = W.partitionBy("day")
    ranked = ev.select(
        "day", "value",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"))
    return ranked.groupBy("day").agg(
        F.max("n").cast("bigint").alias("n_purchases"),
        F.max(F.when(F.col("rk") == F.ceil(0.5 * F.col("n")),
                     F.col("value"))).alias("p50"),
        F.max(F.when(F.col("rk") == F.ceil(0.95 * F.col("n")),
                     F.col("value"))).alias("p95"))


@query(
    "q_cohort_retention_rate",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS active_day
      FROM events
    ), f AS (
      SELECT user_id, MIN(active_day) AS cohort_day
      FROM a GROUP BY user_id
    ), sizes AS (
      SELECT cohort_day, COUNT(*) AS cohort_size FROM f GROUP BY 1
    ), cells AS (
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day, a.active_day) AS day_offset,
             COUNT(*) AS n_active
      FROM a JOIN f ON a.user_id = f.user_id
      GROUP BY 1, 2
    )
    SELECT c.cohort_day,
           CAST(c.day_offset AS INT) AS day_offset,
           CAST(c.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(c.n_active AS DOUBLE) / s.cohort_size AS retention_rate
    FROM cells c JOIN sizes s ON c.cohort_day = s.cohort_day
    """,
    tags=("W10", "retention"),
)
def q_cohort_retention_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NORMALIZED retention triangle: q_cohort_retention's counts
    divided by each cohort's size — the comparable-across-cohorts form
    every retention chart actually plots (a 60-user cohort retaining
    30 is 50%; the raw triangle makes it look like half of a 120-user
    cohort's day-0). Cohort sizes are one more aggregate over the
    first-day relation, broadcast back onto the (cohort, offset)
    cells; the rate is IEEE-from-integers. Same single
    user_id-partitioning reuse as the count form."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("active_day"))
    active = share(ev.distinct())
    first = active.groupBy("user_id").agg(
        F.min("active_day").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    cells = (
        active.join(first, "user_id")
        .select("cohort_day",
                F.datediff("active_day", "cohort_day")
                .alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_day")
        .select("cohort_day",
                F.col("day_offset").cast("int").alias("day_offset"),
                F.col("n_active").cast("bigint").alias("n_active"),
                F.col("cohort_size").cast("bigint").alias("cohort_size"),
                (F.col("n_active").cast("double")
                 / F.col("cohort_size")).alias("retention_rate"))
    )


@query(
    "q_daily_autocorr",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT n AS x,
             LAG(n) OVER (ORDER BY day) AS y
      FROM d
    ), pairs AS (SELECT x, y FROM lagged WHERE y IS NOT NULL),
    s AS (
      SELECT COUNT(*) AS k,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pairs
    )
    SELECT CAST(k AS BIGINT) AS n_pairs,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sy AS DOUBLE) / k)
           / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                     * CAST(sx AS DOUBLE) / k)
                  * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE) / k)) AS lag1_autocorr
    FROM s
    """,
    tags=("W3", "A15", "autocorrelation"),
)
def q_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 AUTOCORRELATION of the daily event-count series — the
    one-number persistence/seasonality probe (near 0: arrivals are
    memoryless day to day; strongly positive: trending load, capacity
    planning should smooth; negative: alternating pattern worth a
    look). The series collapses to one row per day FIRST, so the lag
    window and the A15 sufficient-statistic Pearson form both run on a
    days-sized relation — integer counts end to end, one sqrt at the
    close."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"))
    lag = d.select(
        F.col("n").alias("x"),
        F.lag("n").over(W.orderBy("day")).alias("y")
    ).where(F.col("y").isNotNull())
    s = lag.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    k = F.col("k")
    num = F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double") / k
    den = F.sqrt(
        (F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx").cast("double") / k)
        * (F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double") / k))
    return s.select(k.cast("bigint").alias("n_pairs"),
                    (num / den).alias("lag1_autocorr"))


@query(
    "q_usage_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("W9", "heatmap"),
)
def q_usage_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USAGE HEATMAP: event and distinct-user counts per (day-of-week,
    hour-of-day) cell — the 7×24 rhythm grid behind capacity planning
    and maintenance-window choice, and the seasonal profile A31's
    anomaly screen normalizes against. One hash aggregate to 168
    cells; distinct users add the one count-distinct expansion. The
    dow/hod extraction matches DuckDB's numbering (dayofweek: Sunday=
    0/1 alignment verified by the gate itself — calendar-function
    numbering is a classic silent cross-engine divergence, which is
    exactly why this trivial-looking query earns an oracle row)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


@query(
    "q_daily_runs_test",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ), med AS (
      SELECT n AS m FROM (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n, day) AS rk,
               COUNT(*) OVER () AS c
        FROM d) WHERE rk = (c + 1) // 2
    ), signed AS (
      SELECT day, n > (SELECT m FROM med) AS hi
      FROM d WHERE n <> (SELECT m FROM med)
    ), runs AS (
      SELECT hi,
             CASE WHEN LAG(hi) OVER (ORDER BY day) IS NULL
                    OR LAG(hi) OVER (ORDER BY day) <> hi
                  THEN 1 ELSE 0 END AS new_run
      FROM signed
    ), s AS (
      SELECT SUM(new_run) AS r,
             SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT hi THEN 1 ELSE 0 END) AS n2
      FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           2.0 * n1 * n2 / (n1 + n2) + 1 AS expected_runs,
           (r - (2.0 * n1 * n2 / (n1 + n2) + 1))
           / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                  / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))) AS z
    FROM s
    """,
    tags=("W3", "runs-test"),
)
def q_daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST on the daily series: count of
    above/below-median runs vs expectation — the regime-shift detector
    that complements q_daily_autocorr (autocorrelation measures
    persistence strength; too FEW runs means sustained regimes, too
    MANY means oscillation, |z| > 2 either way says the series is not
    exchangeable and capacity models should not assume i.i.d. days).
    Median via the exact lower-median rank (days-sized window);
    median-tied days drop per the classic test; run boundaries from
    one lag pass; the closing statistic is IEEE on four integers."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"))
    wm = W.orderBy("n", "day")
    ranked = d.select(
        "day", "n", F.row_number().over(wm).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy(F.lit(1))).alias("c"))
    med = ranked.where(
        F.col("rk") == F.floor((F.col("c") + 1) / 2)).select(
        F.col("n").alias("m"))
    signed = (
        d.crossJoin(F.broadcast(med))
        .where(F.col("n") != F.col("m"))
        .select("day", (F.col("n") > F.col("m")).alias("hi"))
    )
    wl = W.orderBy("day")
    runs = signed.select(
        "hi",
        F.when(F.lag("hi").over(wl).isNull()
               | (F.lag("hi").over(wl) != F.col("hi")), 1)
        .otherwise(0).alias("new_run"))
    s = runs.agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("hi"), 1).otherwise(0)).alias("n2"))
    r, n1, n2 = F.col("r"), F.col("n1"), F.col("n2")
    exp_r = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
           / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
    return s.select(
        r.cast("bigint").alias("n_runs"),
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        exp_r.alias("expected_runs"),
        ((r - exp_r) / F.sqrt(var)).alias("z"))


@query(
    "q_session_length_dist",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               AS prev_us
      FROM events
    ), numbered AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN prev_us IS NULL
                             OR ts_us - prev_us
                                > {SESSION_GAP_MIN} * 60 * 1000000
                           THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM t
    ), sessions AS (
      SELECT user_id, session_idx, COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_idx
    )
    SELECT CASE WHEN n_events = 1 THEN '1'
                WHEN n_events <= 3 THEN '2-3'
                WHEN n_events <= 10 THEN '4-10'
                ELSE '11+' END AS size_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY 1
    """,
    tags=("W8", "histogram", "sessions"),
)
def q_session_length_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-LENGTH DISTRIBUTION: sessions bucketed by event count —
    the engagement-shape fingerprint (a spike of 1-event sessions is
    bounce traffic or bot probing; a heavy 11+ tail is power users or
    scraping — either way the mix, not the mean, is the signal). Built
    ON W8's single-pass sessionization (same one shuffle + one sort),
    plus a session-keyed aggregate and a 4-cell histogram — nothing
    touches event volume twice."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = F.lit(SESSION_GAP_MIN * 60 * 1_000_000)
    prev = F.lag("ts_us").over(order_w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_us") - prev > gap_us), 1).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)
    sessions = (
        ev.select("user_id",
                  F.sum(new_session).over(run_w).alias("session_idx"))
        .groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bucket = (F.when(F.col("n_events") == 1, "1")
              .when(F.col("n_events") <= 3, "2-3")
              .when(F.col("n_events") <= 10, "4-10")
              .otherwise("11+"))
    return (
        sessions.groupBy(bucket.alias("size_bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
             F.sum("n_events").cast("bigint").alias("n_events"))
    )


# ---- Trend/seasonal/residual decomposition (W28) ---------------------------

DECOMP_HALF = 3  # centered moving-average half-width (7-day trend window)


@query(
    "q_ts_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(20,6))) AS rev_dec
      FROM orders GROUP BY 1
    ),
    trended AS (
      SELECT day,
             CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(SUM(rev_dec) OVER w AS DOUBLE)
               / (2 * {DECOMP_HALF} + 1) AS trend,
             COUNT(*) OVER w AS n_frame
      FROM daily
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN {DECOMP_HALF} PRECEDING
                   AND {DECOMP_HALF} FOLLOWING)
    ),
    interior AS (
      SELECT day, revenue, trend,
             date_part('dow', day) AS dow,
             revenue - trend AS detrended
      FROM trended WHERE n_frame = 2 * {DECOMP_HALF} + 1
    ),
    seasonal AS (
      SELECT dow,
             CAST(SUM(CAST(detrended AS DECIMAL(20,6))) AS DOUBLE)
               / COUNT(*) AS seasonal
      FROM interior GROUP BY dow
    )
    SELECT i.day, i.revenue, i.trend, s.seasonal,
           i.revenue - i.trend - s.seasonal AS residual
    FROM interior i JOIN seasonal s ON i.dow = s.dow
    """,
    tags=("W28", "timeseries", "decomposition"),
)
def q_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL TREND/SEASONAL/RESIDUAL DECOMPOSITION of the daily
    revenue series (the moving-average skeleton of STL): trend = the
    centered 7-day moving average, seasonal = the day-of-week mean of
    the detrended series, residual = what neither explains — the
    decomposition every seasonality-aware anomaly screen and forecast
    baseline starts from (q_anomaly_seasonal consumes exactly this
    shape; here the three components are the deliverable).

    Scale shape: the raw fact table collapses to one row per DAY before
    any window work, so the windowed relation is bounded by the
    calendar, not the data (an unpartitioned 7-row frame over ~1k rows;
    per-key series would partition by key). Determinism: daily revenue
    is an exact decimal sum; the trend frame SUMS the decimals exactly
    (order-insensitive — window frame addition order differs between
    engines) and divides once as double; the seasonal mean quantizes
    the detrended values before its exact sum; edge days without a
    full frame are excluded on both sides (n_frame = 7), so no
    partial-frame semantics leak. Day-of-week is Spark dayofweek-1 ==
    DuckDB dow (Sunday = 0)."""
    from pyspark.sql import Window
    from ..compat import QDEC

    o = load(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast(QDEC)).alias("rev_dec"))
    )
    span = 2 * DECOMP_HALF + 1
    w = (Window.orderBy("day")
         .rowsBetween(-DECOMP_HALF, DECOMP_HALF))
    trended = daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.sum("rev_dec").over(w).cast("double") / span).alias("trend"),
        F.count(F.lit(1)).over(w).alias("n_frame"))
    interior = (
        trended.where(F.col("n_frame") == span)
        .select("day", "revenue", "trend",
                (F.dayofweek("day") - 1).cast("bigint").alias("dow"),
                (F.col("revenue") - F.col("trend")).alias("detrended"))
    )
    seasonal = interior.groupBy("dow").agg(
        (F.sum(F.col("detrended").cast(QDEC)).cast("double")
         / F.count(F.lit(1))).alias("seasonal"))
    return (
        interior.join(F.broadcast(seasonal), "dow")
        .select("day", "revenue", "trend", "seasonal",
                (F.col("revenue") - F.col("trend") - F.col("seasonal"))
                .alias("residual"))
    )


# ---- CUSUM changepoint detection (W29) --------------------------------------

CUSUM_TOP = 5


@query(
    "q_ts_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    pref AS (
      SELECT day, x,
             SUM(x) OVER (ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS p,
             ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(x) OVER () AS t,
             COUNT(*) OVER () AS n
      FROM daily
    )
    SELECT day,
           CAST(x AS BIGINT) AS n_events,
           CAST(n * p - t * k AS BIGINT) AS cusum_scaled,
           CAST(n * p - t * k AS DOUBLE) / (n * t) AS cusum_norm
    FROM pref
    ORDER BY abs(n * p - t * k) DESC, day
    LIMIT {CUSUM_TOP}
    """,
    tags=("W29", "timeseries", "changepoint"),
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT SCREEN on the daily event-count series: the
    cumulative sum of deviations from the global mean peaks exactly at
    a level shift, so the top-|CUSUM| days are the most likely
    changepoints — the classic first-pass regime-shift locator next to
    W26's runs test (which only says WHETHER the series is non-random,
    not WHERE it broke). The statistic is kept INTEGER-SCALED:
    CUSUM_k = sum_over_i<=k(x_i - T/n) is rescaled by n to
    n*P_k - T*k (P = prefix sum, T = total, all bigint), so no float
    enters the ranking and the argmax is bit-exact in any engine; the
    normalized column divides once as double for interpretability.

    Scale shape: events collapse to day grain first; one running-sum
    window over the days-sized relation (unpartitioned by construction
    — the calendar bounds it); top-k by TakeOrdered. The unscaled
    mean never materializes, so there is no division inside the
    recursion."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    pref = daily.select(
        "day", "x",
        F.sum("x").over(wp).alias("p"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
        F.sum("x").over(wall).alias("t"),
        F.count(F.lit(1)).over(wall).alias("n"))
    stat = F.col("n") * F.col("p") - F.col("t") * F.col("k")
    return (
        pref.select(
            "day", F.col("x").cast("bigint").alias("n_events"),
            stat.cast("bigint").alias("cusum_scaled"),
            (stat.cast("double") / (F.col("n") * F.col("t")))
            .alias("cusum_norm"))
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(CUSUM_TOP)
    )


# ---- Seasonal-naive forecast backtest (W34) ---------------------------------

FC_SEASON_DAYS = 7  # weekly seasonality: forecast(d) = actual(d - 7)


@query(
    "q_ts_forecast_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    paired AS (
      SELECT a.event_type, a.day, a.v,
             f.v AS forecast
      FROM daily a
      JOIN daily f
        ON f.event_type = a.event_type
       AND f.day = a.day - INTERVAL {FC_SEASON_DAYS} DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored_days,
           CAST(CAST(SUM(CAST(abs(v - forecast) AS DECIMAL(27,6)))
                / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS mae,
           CASE WHEN SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) > 0
                THEN NULL
                ELSE CAST(CAST(
                  SUM(CAST(CASE WHEN v <> 0
                           THEN abs(v - forecast) / abs(v) END
                       AS DECIMAL(27,9))) / COUNT(*)
                  AS DECIMAL(18,6)) AS DOUBLE) END AS mape,
           CAST(CAST(SUM(CAST(forecast - v AS DECIMAL(27,6)))
                / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS bias
    FROM paired
    GROUP BY event_type
    """,
    tags=("W34", "timeseries", "forecast"),
)
def q_ts_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE FORECAST BACKTEST: forecast(day) = actual(day -
    {FC_SEASON_DAYS}) per event family, scored over every day that has
    a same-weekday predecessor — MAE, MAPE, and signed bias per family.
    The seasonal-naive is THE baseline every real forecasting system is
    judged against (a model that can't beat 'same day last week'
    shouldn't ship), so the backtest harness matters more than the
    model; swapping a learned forecast into the same join is the
    production path. Complements W28's decomposition (explains the
    series) with the accuracy-measurement half.

    Shape: day-grain decimal collapse, then an EQUI self-join on
    (event_type, day - {FC_SEASON_DAYS}) over the bounded daily
    relation (lag-by-key without a window — broadcastable both sides at
    any horizon), one keyed aggregate of decimal-quantized error terms.
    MAPE is NULL for a family with any zero-valued actual (no silent
    divide-by-zero day-dropping — the honest posture); the per-row
    ratio itself is guarded with WHEN v <> 0 on BOTH engines so a
    zero-actual day never evaluates 1/0 under ANSI mode (r9 advice) —
    the aggregate-level has_zero guard then nulls the whole family as
    documented; error sums are per-term quantized so aggregation order
    never perturbs them."""
    from ..compat import QDEC

    e = load(spark, sf_dir, "events")
    daily = (
        e.select("event_type",
                 F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
                 F.col("value").cast("decimal(20,6)").alias("v"))
        .groupBy("event_type", "day")
        .agg(F.sum("v").cast("double").alias("v")))
    fc = daily.select(
        "event_type",
        F.date_add(F.col("day"), FC_SEASON_DAYS).alias("day"),
        F.col("v").alias("forecast"))
    paired = daily.join(fc, ["event_type", "day"])
    err = (F.col("v") - F.col("forecast"))
    abs_err_q = F.abs(err).cast("decimal(27,6)")
    rel_err_q = (F.when(F.col("v") != 0, F.abs(err) / F.abs(F.col("v")))
                 .cast("decimal(27,9)"))
    n = F.count(F.lit(1))
    has_zero = F.sum(F.when(F.col("v") == 0, 1).otherwise(0)) > 0
    return paired.groupBy("event_type").agg(
        n.cast("bigint").alias("n_scored_days"),
        (F.sum(abs_err_q).cast("double") / n).cast(QDEC).cast("double")
        .alias("mae"),
        F.when(has_zero, F.lit(None).cast("double"))
        .otherwise((F.sum(rel_err_q).cast("double") / n)
                   .cast(QDEC).cast("double")).alias("mape"),
        (F.sum((-err).cast("decimal(27,6)")).cast("double") / n)
        .cast(QDEC).cast("double").alias("bias"))


# ---- Period-over-period growth report (W35) ---------------------------------


@query(
    "q_window_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type,
             CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
               AS week_start,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, week_start, revenue, n_events,
             LAG(revenue) OVER (PARTITION BY event_type
                                ORDER BY week_start) AS prev_revenue
      FROM weekly
    )
    SELECT event_type, week_start,
           CAST(n_events AS BIGINT) AS n_events,
           revenue,
           prev_revenue,
           CASE WHEN prev_revenue IS NULL OR prev_revenue = 0 THEN NULL
                ELSE CAST(CAST((revenue - prev_revenue) / prev_revenue
                     AS DECIMAL(18,6)) AS DOUBLE) END AS wow_growth
    FROM lagged
    """,
    tags=("W35", "timeseries", "growth"),
)
def q_window_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEK-OVER-WEEK GROWTH REPORT: weekly revenue and event volume
    per family with the WoW growth rate — the ubiquitous KPI-review
    shape (this week vs last) that composes W9's multi-grain rollup
    with W3's lag into the report every dashboard opens on. Weeks with
    no predecessor or a zero base report NULL growth rather than an
    engine-dependent division artifact.

    Shape: week-grain decimal collapse first; ONE (event_type)-keyed
    lag window over the bounded weekly relation; growth quantized to
    the 6-dp grid (single division). Both engines truncate to Monday
    weeks (date_trunc('week'))."""
    from ..compat import QDEC

    e = load(spark, sf_dir, "events")
    weekly = (
        e.select("event_type",
                 F.to_date(F.date_trunc("week", F.col("ts")))
                 .alias("week_start"),
                 F.col("value").cast("decimal(20,6)").alias("v"))
        .groupBy("event_type", "week_start")
        .agg(F.sum("v").cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_events")))
    from pyspark.sql import Window
    w = Window.partitionBy("event_type").orderBy("week_start")
    lagged = weekly.withColumn("prev_revenue",
                               F.lag("revenue").over(w))
    growth = F.when(
        F.col("prev_revenue").isNull() | (F.col("prev_revenue") == 0),
        F.lit(None).cast("double")).otherwise(
        ((F.col("revenue") - F.col("prev_revenue"))
         / F.col("prev_revenue")).cast(QDEC).cast("double"))
    return lagged.select(
        "event_type", "week_start",
        F.col("n_events").cast("bigint").alias("n_events"),
        "revenue", "prev_revenue", growth.alias("wow_growth"))


# ---- Kaplan-Meier survival estimate (W36) ------------------------------------

KM_CENSOR_DAYS = 30  # customers active within this window are censored


@query(
    "q_survival_km",
    oracle=f"""
    WITH horizon AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS h FROM orders
    ),
    span AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_d,
             MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY o_custkey
    ),
    durations AS (
      SELECT CAST(last_d - first_d AS BIGINT) AS t,
             CASE WHEN last_d < h - {KM_CENSOR_DAYS} THEN 1 ELSE 0 END
               AS observed
      FROM span, horizon
    ),
    per_t AS (
      SELECT t, COUNT(*) AS c_all, SUM(observed) AS d
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d, c_all,
             SUM(c_all) OVER () - SUM(c_all) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + c_all AS n_risk
      FROM per_t
    ),
    terms AS (
      SELECT t, d, c_all, n_risk,
             CAST(CASE WHEN d > 0
               THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
               ELSE 0 END AS DECIMAL(18,9)) AS lt
      FROM risk WHERE d < n_risk
    ),
    curve AS (
      SELECT t, d, c_all, n_risk,
             SUM(lt) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_lt
      FROM terms
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c_all - d AS BIGINT) AS n_censored,
           CAST(CAST(exp(CAST(cum_lt AS DOUBLE)) AS DECIMAL(18,6))
                AS DOUBLE) AS survival
    FROM curve WHERE d > 0
    """,
    tags=("W36", "survival", "timeseries"),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER SURVIVAL CURVE over customer lifetimes (days from
    first to last order; customers still ordering within
    {KM_CENSOR_DAYS} days of the corpus horizon are CENSORED — their
    lifetime is a lower bound, the observation the naive "average
    lifetime" metric silently throws away, which is exactly why
    survival analysis exists). Per distinct event time: the risk set,
    events, censored count, and S(t) = Π(1 − d_i/n_i) — the estimator
    behind every retention/churn curve; E14's era-survival view is its
    fixed-grid special case.

    Determinism: risk sets and event counts are exact integers from
    ONE duration-keyed aggregate + prefix windows over the
    distinct-duration relation (duration-cardinality-bounded, never
    row-bounded); each hazard's ln(1 − d/n) is 9-dp-quantized before
    the cumulative sum, and the final exp is one IEEE op quantized to
    6 dp — the A55/F4 exp discipline. Saturated times (d = n_risk:
    survival hits exactly 0, ln undefined) are excluded from the curve
    on both engines."""
    o = load(spark, sf_dir, "orders")
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("h"))
    span = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"))
    durations = span.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        F.when(F.col("last_d")
               < F.date_sub(F.col("h"), KM_CENSOR_DAYS), 1)
        .otherwise(0).alias("observed"))
    per_t = durations.groupBy("t").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum("observed").alias("d"))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    risk = per_t.select(
        "t", "d", "c_all",
        (F.sum("c_all").over(wall) - F.sum("c_all").over(wcum)
         + F.col("c_all")).alias("n_risk"))
    lt = F.when(F.col("d") > 0,
                F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))) \
        .otherwise(F.lit(0)).cast("decimal(18,9)")
    terms = risk.where(F.col("d") < F.col("n_risk")).select(
        "t", "d", "c_all", "n_risk", lt.alias("lt"))
    curve = terms.select(
        "t", "d", "c_all", "n_risk",
        F.sum("lt").over(wcum).alias("cum_lt"))
    return curve.where(F.col("d") > 0).select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        (F.col("c_all") - F.col("d")).cast("bigint").alias("n_censored"),
        F.exp(F.col("cum_lt").cast("double"))
        .cast("decimal(18,6)").cast("double").alias("survival"))


# ---- Mann-Kendall trend test (W39) -------------------------------------------


@query(
    "q_ts_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             SUM(CASE WHEN b.c > a.c THEN 1
                      WHEN b.c < a.c THEN -1 ELSE 0 END) AS s
      FROM daily a
      JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY a.event_type
    ),
    nd AS (
      SELECT event_type, COUNT(*) AS n FROM daily GROUP BY event_type
    ),
    ties AS (
      SELECT event_type,
             SUM(tc * (tc - 1) * (2 * tc + 5)) AS tie_corr
      FROM (
        SELECT event_type, c, COUNT(*) AS tc
        FROM daily GROUP BY event_type, c
      ) AS g
      GROUP BY event_type
    ),
    stat AS (
      SELECT n.event_type, n.n, p.s,
             (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
              - t.tie_corr) / 18.0 AS var_s
      FROM nd n
      JOIN pairs p ON p.event_type = n.event_type
      JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           CAST(CAST(var_s AS DECIMAL(18,6)) AS DOUBLE) AS var_s,
           CASE WHEN var_s <= 0 THEN NULL
                WHEN s > 0 THEN CAST(CAST((s - 1) / sqrt(var_s)
                  AS DECIMAL(18,6)) AS DOUBLE)
                WHEN s < 0 THEN CAST(CAST((s + 1) / sqrt(var_s)
                  AS DECIMAL(18,6)) AS DOUBLE)
                ELSE 0.0 END AS z_mk,
           CASE WHEN s > 0 THEN 'increasing'
                WHEN s < 0 THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM stat
    """,
    tags=("W39", "stats", "trend"),
)
def q_ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST on each family's daily event-count
    series — the NONPARAMETRIC "is there a monotonic trend" answer
    (S = Σ_{{i<j}} sign(x_j − x_i), tie-corrected variance,
    continuity-corrected z): no linearity or normality assumption, so
    it holds where A22's OLS slope is distorted by spikes — the
    standard environmental/KPI drift test, complementing W28/W29
    (which decompose and locate change, but don't TEST it).

    Shape: the pairwise sign sum runs as a per-key self-join over the
    DAY-collapsed relation (the W24 autocorrelation posture: bounded
    by days², never events²); S and the tie terms are exact integers,
    variance and z are single IEEE expressions quantized to 6 dp.
    Degenerate series (all-tied: Var S = 0) report NULL z."""
    ev = load(spark, sf_dir, "events")
    daily = (ev.select("event_type",
                       F.to_date(F.date_trunc("day", "ts")).alias("day"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).alias("c")))
    a = daily.select(F.col("event_type").alias("g"),
                     F.col("day").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("event_type").alias("g"),
                     F.col("day").alias("db"), F.col("c").alias("cb"))
    pairs = (a.join(b, "g").where(F.col("db") > F.col("da"))
             .groupBy("g")
             .agg(F.sum(F.when(F.col("cb") > F.col("ca"), 1)
                        .when(F.col("cb") < F.col("ca"), -1)
                        .otherwise(0)).alias("s")))
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (daily.groupBy("event_type", "c")
            .agg(F.count(F.lit(1)).alias("tc"))
            .groupBy("event_type")
            .agg(F.sum(F.col("tc") * (F.col("tc") - 1)
                       * (2 * F.col("tc") + 5)).alias("tie_corr")))
    stat = (nd.join(pairs.withColumnRenamed("g", "event_type"),
                    "event_type")
            .join(ties, "event_type"))
    n, s = F.col("n"), F.col("s")
    var_s = ((n.cast("double") * (n - 1) * (2 * n + 5)
              - F.col("tie_corr")) / 18.0)
    z = (F.when(s > 0, (s - 1) / F.sqrt(var_s))
         .when(s < 0, (s + 1) / F.sqrt(var_s)))
    return stat.select(
        "event_type",
        n.cast("bigint").alias("n_days"),
        s.cast("bigint").alias("s_stat"),
        var_s.cast("decimal(18,6)").cast("double").alias("var_s"),
        F.when(var_s <= 0, F.lit(None).cast("double"))
        .when(s == 0, F.lit(0.0))
        .otherwise(z.cast("decimal(18,6)").cast("double")).alias("z_mk"),
        F.when(s > 0, "increasing").when(s < 0, "decreasing")
        .otherwise("none").alias("trend"))


# ---- Cohort lifetime-value curve (W40) ---------------------------------------


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                 AS DATE)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_month, COUNT(*) AS cohort_size
      FROM firsts GROUP BY cohort_month
    ),
    rev AS (
      SELECT f.cohort_month,
             (EXTRACT(YEAR FROM CAST(o.o_orderdate AS TIMESTAMP)) * 12
              + EXTRACT(MONTH FROM CAST(o.o_orderdate AS TIMESTAMP)))
             - (EXTRACT(YEAR FROM f.cohort_month) * 12
                + EXTRACT(MONTH FROM f.cohort_month)) AS month_index,
             SUM(CAST(o.o_totalprice AS DECIMAL(20,6))) AS revenue
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT r.cohort_month, r.month_index, s.cohort_size, r.revenue,
             SUM(r.revenue) OVER (PARTITION BY r.cohort_month
               ORDER BY r.month_index
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_revenue
      FROM rev r JOIN sizes s ON s.cohort_month = r.cohort_month
    )
    SELECT cohort_month,
           CAST(month_index AS INT) AS month_index,
           CAST(cohort_size AS BIGINT) AS cohort_size,
           CAST(CAST(revenue AS DECIMAL(18,6)) AS DOUBLE) AS revenue,
           CAST(CAST(CAST(cum_revenue AS DOUBLE) / cohort_size
                AS DECIMAL(18,6)) AS DOUBLE) AS ltv_per_customer
    FROM cum
    """,
    tags=("W40", "cohort", "timeseries"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE CURVE: customers grouped by first-order
    month, each cohort's revenue accumulated over month index and
    normalized per member — the payback/LTV read W10's retention matrix
    (who came BACK) doesn't answer (what they're WORTH, cumulatively).
    The month-index axis makes cohorts of different ages comparable;
    the last point of each row is that cohort's LTV-to-date.

    Shape: one keyed aggregate to first-order months, one to (cohort,
    month-index) revenue (month arithmetic stays in integer
    year*12+month space — no date subtraction ambiguity), then ONE
    cumulative window over the cohort×month grid (bounded by months²,
    not orders). Decimal revenue end-to-end; the per-customer division
    is one IEEE op quantized to 6 dp."""
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.to_date(F.date_trunc("month", "o_orderdate")))
        .alias("cohort_month"))
    sizes = firsts.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    mi = ((F.year("o_orderdate") * 12 + F.month("o_orderdate"))
          - (F.year("cohort_month") * 12 + F.month("cohort_month")))
    rev = (o.join(firsts, "o_custkey")
           .groupBy("cohort_month", mi.alias("month_index"))
           .agg(F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
                .alias("revenue")))
    wcum = (Window.partitionBy("cohort_month").orderBy("month_index")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = (rev.join(F.broadcast(sizes), "cohort_month")
           .select("cohort_month", "month_index", "cohort_size",
                   "revenue",
                   F.sum("revenue").over(wcum).alias("cum_revenue")))
    return cum.select(
        "cohort_month",
        F.col("month_index").cast("int").alias("month_index"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.col("revenue").cast("decimal(18,6)").cast("double")
        .alias("revenue"),
        (F.col("cum_revenue").cast("double") / F.col("cohort_size"))
        .cast("decimal(18,6)").cast("double").alias("ltv_per_customer"))


# ---- Autocorrelation function (W41) --------------------------------------------

ACF_MAX_LAG = 7
ACF_EVENT = "purchase"


def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, v): the daily purchase-revenue series every W4x query
    reads, ``v`` the exact decimal sum of the day's values. Each caller
    casts ``v`` to the numerics it needs."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type") == ACF_EVENT)
    return (e.groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                      .alias("day"))
            .agg(F.sum(F.col("value").cast("decimal(20,6)")).alias("v")))


# daily_revenue as a DuckDB CTE ``daily``.
DAILY_REVENUE_ORACLE = f"""daily AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             SUM(CAST(value AS DECIMAL(20,6))) AS v
      FROM events WHERE event_type = '{ACF_EVENT}'
      GROUP BY 1
    )"""


def acf_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lag, n, m, r): the autocorrelation of daily_revenue at lags
    1..ACF_MAX_LAG over its n days, from the m day pairs ``lag`` apart.
    ``r`` is the raw-moment ρ quantized at 6 dp, NULL when the series
    has no variance or the lag no pair. q_ts_acf publishes it and
    q_ts_ljung_box folds it."""
    daily = daily_revenue(spark, sf_dir).select(
        "day", F.col("v").cast("decimal(19,6)").alias("v"))
    daily = share(daily)
    base = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(20,6)")).cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)) \
        .select("lag", F.col("v").alias("va"),
                F.date_add(F.col("day"), F.col("lag")).alias("day_b"))
    b = daily.select(F.col("day").alias("day_b"), F.col("v").alias("vb"))
    lagged = (a.join(b, "day_b")
              .groupBy("lag")
              .agg(F.count(F.lit(1)).alias("m"),
                   F.sum(F.col("va") * F.col("vb")).cast("double")
                   .alias("sxy"),
                   F.sum(F.col("va").cast("decimal(20,6)"))
                   .cast("double").alias("sh"),
                   F.sum(F.col("vb").cast("decimal(20,6)"))
                   .cast("double").alias("st")))
    mean = F.col("s1") / F.col("n")
    den = F.col("s2") - F.col("n") * mean * mean
    num = (F.col("sxy") - mean * (F.col("sh") + F.col("st"))
           + F.col("m") * mean * mean)
    return lagged.crossJoin(F.broadcast(base)).select(
        "lag", "n", "m",
        F.when((den <= 0) | (F.col("m") == 0),
               F.lit(None).cast("double"))
        .otherwise((num / den).cast("decimal(18,6)").cast("double"))
        .alias("r"))


# acf_rho as DuckDB CTEs: daily_revenue's ``daily``, then ``rho``.
ACF_ORACLE = f"""{DAILY_REVENUE_ORACLE},
    base AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(v AS DECIMAL(19,6))
                      * CAST(v AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM daily
    ),
    lagged AS (
      SELECT l.lag, COUNT(*) AS m,
             CAST(SUM(CAST(a.v AS DECIMAL(19,6))
                      * CAST(b.v AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(a.v AS DECIMAL(20,6))) AS DOUBLE) AS sh,
             CAST(SUM(CAST(b.v AS DECIMAL(20,6))) AS DOUBLE) AS st
      FROM range(1, {ACF_MAX_LAG} + 1) l(lag)
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
      GROUP BY l.lag
    ),
    rho AS (
      SELECT g.lag, b.n, g.m,
             CASE WHEN b.s2 - b.n * (b.s1 / b.n) * (b.s1 / b.n) <= 0
                       OR g.m = 0 THEN NULL
                  ELSE CAST(CAST(
                    (g.sxy - (b.s1 / b.n) * (g.sh + g.st)
                     + g.m * (b.s1 / b.n) * (b.s1 / b.n))
                    / (b.s2 - b.n * (b.s1 / b.n) * (b.s1 / b.n))
                    AS DECIMAL(18,6)) AS DOUBLE) END AS r
      FROM lagged g, base b
    )"""


@query(
    "q_ts_acf",
    oracle=f"""
    WITH {ACF_ORACLE}
    SELECT CAST(lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS n_pairs,
           r AS acf
    FROM rho
    """,
    tags=("W41", "timeseries", "acf"),
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION of daily purchase revenue at lags
    1..{ACF_MAX_LAG} — the first diagnostic every forecasting effort
    runs (a lag-7 spike says "weekly seasonality: use W28's
    decomposition / the seasonal-naive backtest"; fast decay says the
    series is noise). acf(ℓ) = Σ(v_t−v̄)(v_{{t+ℓ}}−v̄) / Σ(v_t−v̄)²,
    expanded to raw moments so every SUM is an exact decimal: the
    centered products are algebra over (Σv_t·v_{{t+ℓ}}, head/tail sums,
    global Σv, Σv²) — no per-term double summation whose order could
    differ across engines, no NULL-padding windows.

    Scale: the fact table collapses to the DAY grain once; lag pairs
    are an equi self-join of that bounded relation against a
    {ACF_MAX_LAG}-row lag table (broadcast both ways at any horizon —
    a window would serialize the whole series in one partition);
    decimal(19,6) squares land exactly on the int128 38-cap."""
    return acf_rho(spark, sf_dir).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("m").cast("bigint").alias("n_pairs"),
        F.col("r").alias("acf"))


# ---- Day-of-week seasonality index (W42) ---------------------------------------


@query(
    "q_ts_seasonality",
    oracle=f"""
    WITH {DAILY_REVENUE_ORACLE},
    tot AS (
      SELECT COUNT(*) AS n_all,
             SUM(CAST(v AS DECIMAL(20,6))) AS s_all
      FROM daily
    )
    SELECT CAST(date_part('dow', day) AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE)
                     / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE)
             AS avg_revenue,
           CAST(CAST(
             (CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*))
             / (CAST(MAX(t.s_all) AS DOUBLE) / MAX(t.n_all))
             AS DECIMAL(18,6)) AS DOUBLE) AS seasonal_index
    FROM daily, tot t
    GROUP BY 1
    """,
    tags=("W42", "timeseries", "seasonality"),
)
def q_ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OF-WEEK SEASONAL INDEX of purchase revenue: mean daily
    revenue per weekday divided by the overall mean daily revenue —
    index 1.3 on Friday means Fridays run 30% hot, the multiplicative
    seasonality factor W28's decomposition estimates and the
    seasonal-naive backtest implicitly assumes stable. The
    classical-decomposition companion read at the weekday grain.

    Determinism: dow is calendar arithmetic (Spark dayofweek−1 aligned
    to DuckDB's 0=Sunday date_part), both means are exact-decimal sums
    into one quantized IEEE division each.

    Scale: fact table → day grain (one agg), day grain → 7 rows (one
    agg) with the 1-row global total broadcast back; nothing bigger
    than the day relation ever shuffles."""
    daily = share(daily_revenue(spark, sf_dir))
    tot = daily.agg(F.count(F.lit(1)).alias("n_all"),
                    F.sum(F.col("v").cast("decimal(20,6)"))
                    .alias("s_all"))
    bydow = (daily.groupBy((F.dayofweek("day") - 1).alias("dow"))
             .agg(F.count(F.lit(1)).alias("n_days"),
                  F.sum(F.col("v").cast("decimal(20,6)")).alias("s")))
    out = bydow.crossJoin(F.broadcast(tot))
    avg_rev = F.col("s").cast("double") / F.col("n_days")
    overall = F.col("s_all").cast("double") / F.col("n_all")
    return out.select(
        F.col("dow").cast("bigint").alias("dow"),
        F.col("n_days").cast("bigint").alias("n_days"),
        avg_rev.cast("decimal(18,6)").cast("double").alias("avg_revenue"),
        (avg_rev / overall).cast("decimal(18,6)").cast("double")
        .alias("seasonal_index"))


# ---- Seasonal/trend strength (W43) ----------------------------------------------


def _strength_oracle(sf_dir: str) -> str:
    # Composes the W28 decomposition oracle VERBATIM (same contract as
    # the audit queries that wrap audited oracles): the strength read
    # can never drift from the decomposition it summarizes.
    from ..registry import get

    base = get("q_ts_decompose").oracle_for(sf_dir)
    return f"""
    WITH comp AS ({base}),
    terms AS (
      SELECT CAST(revenue - trend AS DOUBLE) AS detr,
             CAST(revenue - seasonal AS DOUBLE) AS deseas,
             CAST(residual AS DOUBLE) AS resid
      FROM comp
    ),
    mom AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(detr AS DECIMAL(20,6))) AS DOUBLE) AS s_d,
             CAST(SUM(CAST(detr * detr AS DECIMAL(38,6))) AS DOUBLE)
               AS ss_d,
             CAST(SUM(CAST(deseas AS DECIMAL(20,6))) AS DOUBLE) AS s_e,
             CAST(SUM(CAST(deseas * deseas AS DECIMAL(38,6))) AS DOUBLE)
               AS ss_e,
             CAST(SUM(CAST(resid AS DECIMAL(20,6))) AS DOUBLE) AS s_r,
             CAST(SUM(CAST(resid * resid AS DECIMAL(38,6))) AS DOUBLE)
               AS ss_r
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CASE WHEN ss_d - s_d * s_d / n <= 0 THEN NULL
                ELSE CAST(CAST(GREATEST(0.0,
                  1.0 - (ss_r - s_r * s_r / n) / (ss_d - s_d * s_d / n))
                  AS DECIMAL(18,6)) AS DOUBLE) END AS seasonal_strength,
           CASE WHEN ss_e - s_e * s_e / n <= 0 THEN NULL
                ELSE CAST(CAST(GREATEST(0.0,
                  1.0 - (ss_r - s_r * s_r / n) / (ss_e - s_e * s_e / n))
                  AS DECIMAL(18,6)) AS DOUBLE) END AS trend_strength
    FROM mom
    """


@query("q_ts_seasonal_strength", oracle=_strength_oracle,
       tags=("W43", "timeseries", "decomposition"))
def q_ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL / TREND STRENGTH of the daily-revenue series — the
    standard one-number summaries of a decomposition (Hyndman's FS/FT):
    F_seasonal = max(0, 1 − var(residual)/var(revenue − trend)) and
    F_trend = max(0, 1 − var(residual)/var(revenue − seasonal)).
    Together with W41's ACF they answer "is modeling seasonality worth
    it on THIS series" before any model is fit; computed OVER the W28
    decomposition output, so the three components and their strength
    read can never disagree.

    Scale: the decomposition is day-grain; the strengths are one
    aggregate of per-term-quantized decimal moments over it (every
    input double is the same deterministic IEEE expression on both
    engines, so quantized sums are order-free). Degenerate variance
    reports NULL."""
    from ..registry import get as get_query

    comp = get_query("q_ts_decompose").fn(spark, sf_dir)
    terms = comp.select(
        (F.col("revenue") - F.col("trend")).alias("detr"),
        (F.col("revenue") - F.col("seasonal")).alias("deseas"),
        F.col("residual").alias("resid"))

    def mom(col):
        return [F.sum(F.col(col).cast("decimal(20,6)")).cast("double")
                .alias(f"s_{col}"),
                F.sum((F.col(col) * F.col(col)).cast("decimal(38,6)"))
                .cast("double").alias(f"ss_{col}")]

    m = terms.agg(F.count(F.lit(1)).alias("n"),
                  *mom("detr"), *mom("deseas"), *mom("resid"))
    n = F.col("n")

    def var_of(tag):
        return F.col(f"ss_{tag}") - F.col(f"s_{tag}") * F.col(f"s_{tag}") / n

    def strength(tag):
        return F.when(var_of(tag) <= 0, F.lit(None).cast("double")) \
            .otherwise(F.greatest(F.lit(0.0),
                                  1.0 - var_of("resid") / var_of(tag))
                       .cast("decimal(18,6)").cast("double"))

    return m.select(n.cast("bigint").alias("n_days"),
                    strength("detr").alias("seasonal_strength"),
                    strength("deseas").alias("trend_strength"))


# ---- Ljung-Box portmanteau test (W44) --------------------------------------

LB_CRIT_5PCT_DF7 = 14.067140  # chi-square 95th percentile, df = 7


@query(
    "q_ts_ljung_box",
    oracle=f"""
    WITH {ACF_ORACLE},
    q AS (
      SELECT MAX(n) AS n, COUNT(*) AS h,
             CAST(SUM(CAST(r * r / (n - lag) AS DECIMAL(27,9)))
                  AS DOUBLE) AS srho
      FROM rho WHERE r IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(h AS BIGINT) AS n_lags,
           CAST(CAST(n * (n + 2.0) * srho AS DECIMAL(18,6)) AS DOUBLE)
             AS lb_q,
           CASE WHEN h < {ACF_MAX_LAG} THEN NULL
                ELSE CAST(n * (n + 2.0) * srho AS DECIMAL(18,6))
                     > {LB_CRIT_5PCT_DF7} END AS reject_5pct
    FROM q
    """,
    tags=("W44", "timeseries", "ljung-box"),
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST over the daily-revenue ACF at lags
    1..{ACF_MAX_LAG}: Q = n(n+2)·Σ ρ_k²/(n−k), against chi-square(h) —
    the ONE-NUMBER answer to "is this series white noise?" that reading
    W41's seven per-lag bars can't give (seven uncorrected 5% looks
    inflate the family false-alarm rate exactly the way A55 corrects
    elsewhere). The standard residual-diagnostic gate run after any
    forecast fit (W34's backtest residuals should pass it; raw revenue
    with weekly seasonality should fail it).

    Composition discipline: the ρ_k are W41's EXACT published values —
    both queries read them from ``acf_rho`` (``ACF_ORACLE`` in the
    oracle), the raw-moment expansion over the day-grain self-join,
    each 6-dp-quantized BEFORE squaring so both engines square
    identical rationals; the fold keeps the lags with a ρ and is
    {ACF_MAX_LAG} terms, 9-dp-quantized per term. Scale: everything after the one fact-table collapse operates
    on the calendar-bounded day relation (30 rows/month regardless of
    sf) — the statistic's cost is frozen by the calendar, not data."""
    # The fold reads only the lags with a ρ: every aggregate skips a
    # NULL r. (A filter on r would join the lag and series sides on
    # a condition, a nested-loop join where a cross join suffices.)
    qrel = acf_rho(spark, sf_dir).agg(
        F.max(F.when(F.col("r").isNotNull(), F.col("n"))).alias("n"),
        F.count("r").alias("h"),
        F.sum((F.col("r") * F.col("r") / (F.col("n") - F.col("lag")))
              .cast("decimal(27,9)")).cast("double").alias("srho"))
    lbq = (F.col("n") * (F.col("n") + 2.0) * F.col("srho")) \
        .cast("decimal(18,6)")
    # the critical value is chi-square(df = ACF_MAX_LAG); when short or
    # degenerate series drop lags out of rho (m = 0 / zero variance),
    # h < ACF_MAX_LAG and that constant tests the WRONG df — emit NULL
    # rather than a too-conservative flag.
    return qrel.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("h").cast("bigint").alias("n_lags"),
        lbq.cast("double").alias("lb_q"),
        F.when(F.col("h") < ACF_MAX_LAG, F.lit(None).cast("boolean"))
        .otherwise(lbq > LB_CRIT_5PCT_DF7).alias("reject_5pct"))


# ---- Theil-Sen robust trend slope (W45) -------------------------------------


@query(
    "q_ts_theil_sen",
    oracle=f"""
    WITH {DAILY_REVENUE_ORACLE},
    slopes AS (
      SELECT CAST(CAST((b.v - a.v) AS DOUBLE)
                  / (b.day - a.day) AS DECIMAL(18,6)) AS s
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rk,
             COUNT(*) OVER () AS m
      FROM slopes
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(MAX(m) AS BIGINT) AS n_pairs,
           CAST(MAX(CASE WHEN rk = (m + 1) // 2 THEN s END) AS DOUBLE)
             AS theil_sen_slope,
           CAST(MAX(CASE WHEN rk = m // 2 + 1 THEN s END) AS DOUBLE)
             AS theil_sen_slope_hi
    FROM ranked
    """,
    tags=("W45", "timeseries", "robust-trend"),
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST SLOPE of daily purchase revenue: the median of
    all pairwise day-to-day slopes — the trend ESTIMATE to W39's
    Mann-Kendall trend TEST (the canonical pairing: MK says "is there a
    monotone trend", Theil-Sen says "how steep"), with a 29.3%
    breakdown point where the OLS slope (A22) is dragged arbitrarily
    far by one bad day. Both lower-median and upper-median order
    statistics ship, so the even-pair-count ambiguity is explicit
    rather than engine-dependent.

    Scale shape: the fact table collapses to the day grain ONCE; the
    pairwise self-join and the rank window run on the calendar-bounded
    day relation (30 days → 435 slopes at EVERY sf — the relation's
    size is frozen by the calendar, same posture as W39/W41), so the
    single-partition rank window orders hundreds of rows, never data.
    Each slope is ONE division of exact decimals quantized at 6 dp
    (both engines pick identical medians because they rank identical
    rationals; date subtraction is exact integer days)."""
    daily = daily_revenue(spark, sf_dir)
    a = daily.select(F.col("day").alias("day_a"), F.col("v").alias("va"))
    b = daily.select(F.col("day").alias("day_b"), F.col("v").alias("vb"))
    slopes = (a.join(b, F.col("day_b") > F.col("day_a"))
              .select(((F.col("vb") - F.col("va")).cast("double")
                       / F.datediff("day_b", "day_a"))
                      .cast("decimal(18,6)").alias("s")))
    wrk = Window.orderBy("s")
    wall = Window.partitionBy(F.lit(1))
    ranked = slopes.select(
        "s", F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("m"))
    n_days = daily.count()
    return ranked.agg(
        F.lit(n_days).cast("bigint").alias("n_days"),
        F.max("m").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.col("rk") == F.floor((F.col("m") + 1) / 2),
                     F.col("s"))).cast("double")
        .alias("theil_sen_slope"),
        F.max(F.when(F.col("rk") == F.floor(F.col("m") / 2) + 1,
                     F.col("s"))).cast("double")
        .alias("theil_sen_slope_hi"))


# ---- Hurst exponent via rescaled-range analysis (W46) ------------------------

HURST_SCALES = (5, 10, 15, 30)


def _hurst_oracle() -> str:
    scales = ", ".join(str(s) for s in HURST_SCALES)
    return f"""
    WITH {DAILY_REVENUE_ORACLE},
    idx AS (
      SELECT CAST(v AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY day) - 1 AS i
      FROM daily
    ),
    blocked AS (
      SELECT s.n, i.i // s.n AS blk, i.i, i.v
      FROM idx i, (SELECT UNNEST([{scales}]) AS n) s
    ),
    complete AS (
      SELECT n, blk FROM blocked GROUP BY n, blk HAVING COUNT(*) = n
    ),
    stats AS (
      SELECT b.n, b.blk, b.i, b.v,
             CAST(SUM(CAST(b.v AS DECIMAL(27,9))) OVER (
               PARTITION BY b.n, b.blk) AS DOUBLE) / b.n AS m
      FROM blocked b JOIN complete c ON b.n = c.n AND b.blk = c.blk
    ),
    cums AS (
      SELECT n, blk, v, m,
             SUM(CAST(v - m AS DECIMAL(27,9))) OVER (
               PARTITION BY n, blk ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM stats
    ),
    per_block AS (
      SELECT n, blk,
             CAST(MAX(cum) - MIN(cum) AS DOUBLE) AS r,
             sqrt(CAST(SUM(CAST((v - m) * (v - m) AS DECIMAL(27,9)))
                  AS DOUBLE) / COUNT(*)) AS s
      FROM cums GROUP BY n, blk
    ),
    per_scale AS (
      SELECT n,
             CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE)
               AS x,
             CAST(CAST(ln(
               CAST(SUM(CASE WHEN s > 0
                        THEN CAST(r / s AS DECIMAL(18,6)) END)
                    AS DOUBLE)
               / COUNT(CASE WHEN s > 0 THEN 1 END))
               AS DECIMAL(18,9)) AS DOUBLE) AS y
      FROM per_block GROUP BY n
      HAVING COUNT(CASE WHEN s > 0 THEN 1 END) > 0
    ),
    fit AS (
      SELECT COUNT(*) AS k, SUM(CAST(x AS DECIMAL(27,9))) AS sx,
             SUM(CAST(y AS DECIMAL(27,9))) AS sy,
             SUM(CAST(x * y AS DECIMAL(27,9))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(27,9))) AS sxx
      FROM per_scale
    )
    SELECT CAST((SELECT COUNT(*) FROM idx) AS BIGINT) AS n_days,
           CAST(k AS BIGINT) AS n_scales,
           CASE WHEN k < 2 OR (k * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) = 0 THEN NULL
           ELSE CAST(CAST(
             (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sy AS DOUBLE))
             / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                * CAST(sx AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS hurst
    FROM fit
    """


@query("q_ts_hurst", oracle=_hurst_oracle(),
       tags=("W46", "timeseries", "hurst"))
def q_ts_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT of daily purchase revenue by rescaled-range (R/S)
    analysis: split the series into blocks of n ∈ {HURST_SCALES} days,
    per block take R = range of the cumulative mean-deviation walk and
    S = its population std, and fit ln(mean R/S) against ln(n) — the
    slope is H. The long-memory diagnostic the ACF family can't give:
    H ≈ 0.5 says the series is a random walk (forecast = seasonal
    naive, W34 is the right tool), H > 0.5 says shocks PERSIST (trend
    following works, W29's CUSUM will fire late), H < 0.5 says
    mean-reversion (bands like W37 are meaningful).

    Scale shape: everything after the one fact-table day-grain
    collapse runs on the calendar-bounded day relation crossed with a
    4-row scale table; cumulative-walk windows partition by (scale,
    block) — a handful of ≤30-row partitions at every sf. Numeric
    discipline: the walk accumulates 9-dp-quantized deviations
    exactly; R/S is quantized at 6 dp per block; the two ln legs at
    9 dp; the OLS fold is A22's exact-moment recipe."""
    daily = daily_revenue(spark, sf_dir)
    widx = Window.orderBy("day")
    idx = daily.select(F.col("v").cast("double").alias("v"),
                       (F.row_number().over(widx) - 1).alias("i"))
    idx = share(idx)
    n_days = idx.count()
    scales = spark.createDataFrame(
        [(s,) for s in HURST_SCALES], "n int")
    blocked = idx.crossJoin(F.broadcast(scales)).select(
        "n", F.floor(F.col("i") / F.col("n")).alias("blk"), "i", "v")
    complete = (blocked.groupBy("n", "blk")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .where(F.col("cnt") == F.col("n"))
                .select("n", "blk"))
    wblk = Window.partitionBy("n", "blk")
    stats = (blocked.join(F.broadcast(complete), ["n", "blk"])
             .withColumn("m", F.sum(F.col("v").cast("decimal(27,9)"))
                         .over(wblk).cast("double") / F.col("n")))
    wcum = (Window.partitionBy("n", "blk").orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0))
    cums = stats.withColumn(
        "cum", F.sum((F.col("v") - F.col("m")).cast("decimal(27,9)"))
        .over(wcum))
    per_block = cums.groupBy("n", "blk").agg(
        (F.max("cum") - F.min("cum")).cast("double").alias("r"),
        F.sqrt(F.sum(((F.col("v") - F.col("m"))
                      * (F.col("v") - F.col("m")))
                     .cast("decimal(27,9)")).cast("double")
               / F.count(F.lit(1))).alias("s"))
    rs = F.when(F.col("s") > 0,
                (F.col("r") / F.col("s")).cast("decimal(18,6)"))
    per_scale = (per_block.groupBy("n")
                 .agg(F.sum(rs).alias("srs"),
                      F.count(rs).alias("nb"))
                 .where(F.col("nb") > 0)
                 .select(
                     F.log(F.col("n").cast("double"))
                     .cast("decimal(18,9)").cast("double").alias("x"),
                     F.log(F.col("srs").cast("double") / F.col("nb"))
                     .cast("decimal(18,9)").cast("double").alias("y")))
    fit = per_scale.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast("decimal(27,9)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(27,9)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(27,9)"))
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(27,9)"))
        .alias("sxx"))
    k = F.col("k")
    den = (k * F.col("sxx").cast("double")
           - F.col("sx").cast("double") * F.col("sx").cast("double"))
    slope = ((k * F.col("sxy").cast("double")
              - F.col("sx").cast("double") * F.col("sy").cast("double"))
             / den)
    # Fewer than 2 surviving scales (a constant series drops blocks
    # with S = 0): the regression is undefined — NULL, not an ANSI 0/0.
    return fit.select(
        F.lit(n_days).cast("bigint").alias("n_days"),
        k.cast("bigint").alias("n_scales"),
        F.when((k < 2) | (den == 0), F.lit(None).cast("double"))
        .otherwise(slope.cast("decimal(18,6)").cast("double"))
        .alias("hurst"))


# ---- EWMA control chart (W47) ------------------------------------------------

EWMA_CHART_LAMBDA_PCT = 20  # λ = 0.20, the standard SPC smoothing
EWMA_CHART_WIDTH = 3.0      # ±3σ control limits


def _ewma_chart_oracle() -> str:
    lam = EWMA_CHART_LAMBDA_PCT / 100.0
    return f"""
    WITH {DAILY_REVENUE_ORACLE},
    idx AS (
      SELECT day, CAST(v AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
    ),
    mu AS (
      SELECT CAST(SUM(CAST(v AS DECIMAL(27,9))) AS DOUBLE) / COUNT(*)
               AS m,
             sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(v AS DECIMAL(27,9))) AS DOUBLE)
                     / COUNT(*))
                  * (CAST(SUM(CAST(v AS DECIMAL(27,9))) AS DOUBLE)
                     / COUNT(*))) AS s
      FROM idx
    ),
    terms AS (
      SELECT b.t, b.day, b.v,
             CAST(CAST(pow({1 - lam}, b.t - a.t) AS DECIMAL(18,12))
                  * CAST(a.v AS DECIMAL(20,6)) AS DECIMAL(38,12)) AS w
      FROM idx b JOIN idx a ON a.t <= b.t
    ),
    sm AS (
      SELECT t, day, v, CAST(SUM(w) AS DOUBLE) AS s_t
      FROM terms GROUP BY t, day, v
    )
    SELECT sm.day, sm.v AS revenue,
           CAST(CAST({lam} * sm.s_t
                + CAST(pow({1 - lam}, sm.t) AS DECIMAL(18,12)) * mu.m
                AS DECIMAL(18,6)) AS DOUBLE) AS ewma,
           CAST(CAST(mu.m + {EWMA_CHART_WIDTH} * mu.s
                * CAST(sqrt({lam} / (2 - {lam})
                  * (1 - CAST(pow({1 - lam}, 2 * sm.t)
                       AS DECIMAL(18,12)))) AS DECIMAL(18,9))
                AS DECIMAL(18,6)) AS DOUBLE) AS ucl,
           CAST(CAST(mu.m - {EWMA_CHART_WIDTH} * mu.s
                * CAST(sqrt({lam} / (2 - {lam})
                  * (1 - CAST(pow({1 - lam}, 2 * sm.t)
                       AS DECIMAL(18,12)))) AS DECIMAL(18,9))
                AS DECIMAL(18,6)) AS DOUBLE) AS lcl,
           CAST({lam} * sm.s_t
                + CAST(pow({1 - lam}, sm.t) AS DECIMAL(18,12)) * mu.m
                AS DECIMAL(18,6))
             > CAST(mu.m + {EWMA_CHART_WIDTH} * mu.s
                * CAST(sqrt({lam} / (2 - {lam})
                  * (1 - CAST(pow({1 - lam}, 2 * sm.t)
                       AS DECIMAL(18,12)))) AS DECIMAL(18,9))
                AS DECIMAL(18,6))
           OR CAST({lam} * sm.s_t
                + CAST(pow({1 - lam}, sm.t) AS DECIMAL(18,12)) * mu.m
                AS DECIMAL(18,6))
             < CAST(mu.m - {EWMA_CHART_WIDTH} * mu.s
                * CAST(sqrt({lam} / (2 - {lam})
                  * (1 - CAST(pow({1 - lam}, 2 * sm.t)
                       AS DECIMAL(18,12)))) AS DECIMAL(18,9))
                AS DECIMAL(18,6)) AS out_of_control
    FROM sm, mu
    ORDER BY sm.day
    """


@query("q_ts_ewma_chart", oracle=_ewma_chart_oracle(),
       tags=("W47", "timeseries", "spc"))
def q_ts_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART (λ=0.2, ±3σ) over daily purchase revenue —
    the SPC monitor that detects SMALL persistent shifts W29's CUSUM
    and A14's z-screen are tuned past: each day's EWMA carries
    exponentially-forgotten history, and the time-varying limits
    ±3σ√(λ/(2−λ)(1−(1−λ)^{{2t}})) widen from the start-up transient to
    the asymptote, so early points are judged by honestly tighter
    bounds. Chart initialized at the in-control estimate μ̂ (series
    mean), the textbook choice.

    Determinism discipline: the recurrence is unrolled into its closed
    form EWMA_t = λ·Σ(1−λ)^(t−i)·x_i + (1−λ)^t·μ̂ over the
    calendar-bounded day relation (30-day pair join at every sf —
    never a sequential scan dependency); pow() is libm, so every
    weight is 12-dp-quantized BEFORE multiplication, products fold as
    exact decimals, and σ-legs quantize at 9 dp — both engines compare
    identical 6-dp grid values for the flag."""
    lam = EWMA_CHART_LAMBDA_PCT / 100.0
    daily = daily_revenue(spark, sf_dir).select(
        "day", F.col("v").cast("double").alias("v"))
    widx = Window.orderBy("day")
    idx = share(daily.select("day", "v",
                             F.row_number().over(widx).alias("t")))
    mu = idx.agg(
        (F.sum(F.col("v").cast("decimal(27,9)")).cast("double")
         / F.count(F.lit(1))).alias("m"),
        F.sqrt(F.sum((F.col("v") * F.col("v")).cast("decimal(38,9)"))
               .cast("double") / F.count(F.lit(1))
               - (F.sum(F.col("v").cast("decimal(27,9)")).cast("double")
                  / F.count(F.lit(1)))
               * (F.sum(F.col("v").cast("decimal(27,9)")).cast("double")
                  / F.count(F.lit(1)))).alias("s"))
    a = idx.select(F.col("t").alias("ta"), F.col("v").alias("va"))
    b = idx.select("t", "day", "v")
    w = (F.pow(F.lit(1 - lam), F.col("t") - F.col("ta"))
         .cast("decimal(18,12)")
         * F.col("va").cast("decimal(20,6)")).cast("decimal(38,12)")
    sm = (b.join(a, F.col("ta") <= F.col("t"))
          .groupBy("t", "day", "v")
          .agg(F.sum(w).cast("double").alias("s_t")))
    out = sm.crossJoin(F.broadcast(mu))
    ewma6 = (lam * F.col("s_t")
             + F.pow(F.lit(1 - lam), F.col("t")).cast("decimal(18,12)")
             * F.col("m")).cast("decimal(18,6)")
    half = (EWMA_CHART_WIDTH * F.col("s")
            * F.sqrt(lam / (2 - lam)
                     * (1 - F.pow(F.lit(1 - lam), 2 * F.col("t"))
                        .cast("decimal(18,12)")))
            .cast("decimal(18,9)"))
    ucl6 = (F.col("m") + half).cast("decimal(18,6)")
    lcl6 = (F.col("m") - half).cast("decimal(18,6)")
    return out.select(
        "day", F.col("v").alias("revenue"),
        ewma6.cast("double").alias("ewma"),
        ucl6.cast("double").alias("ucl"),
        lcl6.cast("double").alias("lcl"),
        ((ewma6 > ucl6) | (ewma6 < lcl6)).alias("out_of_control")
    ).orderBy("day")


# ---- Periodogram / dominant-cycle detection (W48) ---------------------------

PGRAM_MIN_PERIOD = 2
PGRAM_MAX_PERIOD = 14


@query(
    "q_ts_periodogram",
    oracle=f"""
    WITH {DAILY_REVENUE_ORACLE},
    base AS (
      SELECT COUNT(*) AS n, MIN(day) AS d0,
             CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(v AS DECIMAL(19,6))
                      * CAST(v AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM daily
    ),
    rel AS (
      SELECT p.period,
             CAST((CAST(d.v AS DOUBLE) - b.s1 / b.n)
               * CAST(CAST(cos(2 * pi()
                   * (date_diff('day', b.d0, d.day) % p.period)
                   / p.period) AS DECIMAL(18,9)) AS DOUBLE)
               AS DECIMAL(27,9)) AS tc,
             CAST((CAST(d.v AS DOUBLE) - b.s1 / b.n)
               * CAST(CAST(sin(2 * pi()
                   * (date_diff('day', b.d0, d.day) % p.period)
                   / p.period) AS DECIMAL(18,9)) AS DOUBLE)
               AS DECIMAL(27,9)) AS ts
      FROM daily d,
           range({PGRAM_MIN_PERIOD}, {PGRAM_MAX_PERIOD} + 1) p(period),
           base b
    ),
    g AS (
      SELECT period,
             CAST(SUM(tc) AS DOUBLE) AS c,
             CAST(SUM(ts) AS DOUBLE) AS s
      FROM rel GROUP BY period
    ),
    pw AS (
      SELECT period,
             CAST(c * c + s * s AS DECIMAL(27,6)) AS power
      FROM g
    ),
    tot AS (SELECT SUM(power) AS tp FROM pw),
    ranked AS (
      SELECT period, power,
             ROW_NUMBER() OVER (ORDER BY power DESC, period ASC) AS rn
      FROM pw
    )
    SELECT CAST(r.period AS BIGINT) AS period,
           CAST(r.power AS DOUBLE) AS power,
           CASE WHEN t.tp = 0 THEN NULL
                ELSE CAST(CAST(CAST(r.power AS DOUBLE)
                     / CAST(t.tp AS DOUBLE) AS DECIMAL(18,6))
                     AS DOUBLE) END AS power_share,
           r.rn = 1 AS is_dominant
    FROM ranked r CROSS JOIN tot t
    """,
    tags=("W48", "timeseries", "periodogram"),
)
def q_ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIODOGRAM over daily purchase revenue at candidate periods
    {PGRAM_MIN_PERIOD}..{PGRAM_MAX_PERIOD} days — the frequency-domain
    answer to "WHICH cycle?", where W41's ACF only says "some cycle":
    power(P) = C² + S² with C = Σ(v_t − v̄)·cos(2πt/P),
    S = Σ(v_t − v̄)·sin(2πt/P) — the squared DFT magnitude at each
    period, plus each period's share of total power and a dominant-
    period flag (the seasonal length W42/W43's day-of-week machinery
    should be RUN AT, discovered instead of assumed).

    Determinism discipline: the cos/sin argument is reduced to
    2π·(t mod P)/P with t = integer calendar-day offset from the
    series head — (t mod P) is exact integer arithmetic, so the
    transcendental's argument is one of P small rationals, identical
    in both engines — and every cos/sin output is 9-dp-quantized
    BEFORE the multiply (the ln/sqrt rule), every product 9-dp-
    quantized before the order-insensitive decimal sum. The mean
    enters as s1/n from exact decimal sums (identical doubles).

    Scale: one fact-table collapse to the day grain; the trig relation
    is days × {PGRAM_MAX_PERIOD - PGRAM_MIN_PERIOD + 1} periods —
    calendar-bounded, broadcast-joined, never a shuffle of the fact
    table; the fold is a 13-row relation."""
    daily = daily_revenue(spark, sf_dir).select(
        "day", F.col("v").cast("decimal(19,6)").alias("v"))
    base = daily.agg(
        F.count(F.lit(1)).alias("n"), F.min("day").alias("d0"),
        F.sum(F.col("v").cast("decimal(20,6)")).cast("double").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2"))
    periods = spark.range(PGRAM_MIN_PERIOD, PGRAM_MAX_PERIOD + 1) \
        .select(F.col("id").cast("int").alias("period"))
    t_mod = F.datediff(F.col("day"), F.col("d0")) % F.col("period")
    import math
    ang = 2 * math.pi * t_mod / F.col("period")
    cq = F.cos(ang).cast("decimal(18,9)").cast("double")
    sq = F.sin(ang).cast("decimal(18,9)").cast("double")
    centered = F.col("v").cast("double") - F.col("s1") / F.col("n")
    rel = (daily.crossJoin(F.broadcast(periods))
           .crossJoin(F.broadcast(base))
           .select("period",
                   (centered * cq).cast("decimal(27,9)").alias("tc"),
                   (centered * sq).cast("decimal(27,9)").alias("ts")))
    g = rel.groupBy("period").agg(
        F.sum("tc").cast("double").alias("c"),
        F.sum("ts").cast("double").alias("s"))
    pw = g.select(
        "period",
        (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
        .cast("decimal(27,6)").alias("power"))
    tot = pw.agg(F.sum("power").alias("tp"))
    rn = F.row_number().over(
        Window.orderBy(F.col("power").desc(), F.col("period").asc()))
    # the unpartitioned window runs on the 13-row period relation —
    # bounded by the candidate-period list, never by the data
    return (pw.withColumn("rn", rn)
            .crossJoin(F.broadcast(tot))
            .select(
                F.col("period").cast("bigint").alias("period"),
                F.col("power").cast("double").alias("power"),
                F.when(F.col("tp") == 0, F.lit(None).cast("double"))
                .otherwise((F.col("power").cast("double")
                            / F.col("tp").cast("double"))
                           .cast("decimal(18,6)").cast("double"))
                .alias("power_share"),
                (F.col("rn") == 1).alias("is_dominant")))


# ---- Lead-lag cross-correlation (W49) ---------------------------------------

CCF_MAX_LAG = 7
CCF_LEAD_EVENT = "click"  # does click volume LEAD purchase revenue?


@query(
    "q_ts_cross_corr",
    oracle=f"""
    WITH {DAILY_REVENUE_ORACLE},
    dc AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day,
             CAST(COUNT(*) AS DECIMAL(19,6)) AS c
      FROM events WHERE event_type = '{CCF_LEAD_EVENT}'
      GROUP BY 1
    ),
    bv AS (
      SELECT COUNT(*) AS nv,
             CAST(SUM(CAST(v AS DECIMAL(20,6))) AS DOUBLE) AS s1v,
             CAST(SUM(CAST(v AS DECIMAL(19,6))
                      * CAST(v AS DECIMAL(19,6))) AS DOUBLE) AS s2v
      FROM daily
    ),
    bc AS (
      SELECT COUNT(*) AS nc,
             CAST(SUM(c) AS DOUBLE) AS s1c,
             CAST(SUM(c * c) AS DOUBLE) AS s2c
      FROM dc
    ),
    lagged0 AS (
      SELECT l.lag, COUNT(*) AS m,
             CAST(SUM(a.c * CAST(b.v AS DECIMAL(19,6))) AS DOUBLE)
               AS sxy,
             CAST(SUM(a.c) AS DOUBLE) AS sc,
             CAST(SUM(CAST(b.v AS DECIMAL(20,6))) AS DOUBLE) AS sv
      FROM range(-{CCF_MAX_LAG}, {CCF_MAX_LAG} + 1) l(lag)
      JOIN dc a ON TRUE
      JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
      GROUP BY l.lag
    ),
    lagged AS (
      SELECT l.lag, COALESCE(g.m, 0) AS m, g.sxy, g.sc, g.sv
      FROM range(-{CCF_MAX_LAG}, {CCF_MAX_LAG} + 1) l(lag)
      LEFT JOIN lagged0 g ON g.lag = l.lag
    ),
    den AS (
      SELECT CASE WHEN (bv.s2v - bv.nv * (bv.s1v / bv.nv)
                          * (bv.s1v / bv.nv)) <= 0
                    OR (bc.s2c - bc.nc * (bc.s1c / bc.nc)
                          * (bc.s1c / bc.nc)) <= 0 THEN NULL
             ELSE CAST(CAST(sqrt(
               (bv.s2v - bv.nv * (bv.s1v / bv.nv) * (bv.s1v / bv.nv))
               * (bc.s2c - bc.nc * (bc.s1c / bc.nc) * (bc.s1c / bc.nc)))
               AS DECIMAL(18,6)) AS DOUBLE) END AS d,
             bv.s1v / bv.nv AS mv, bc.s1c / bc.nc AS mc
      FROM bv, bc
    ),
    ccf AS (
      SELECT g.lag, g.m,
             CASE WHEN den.d IS NULL OR g.m = 0 THEN NULL
             ELSE CAST(CAST(
               (g.sxy - den.mv * g.sc - den.mc * g.sv
                + g.m * den.mc * den.mv) / den.d
               AS DECIMAL(18,6)) AS DOUBLE) END AS r
      FROM lagged g, den
    ),
    ranked AS (
      SELECT lag, m, r,
             ROW_NUMBER() OVER (
               ORDER BY (CASE WHEN r IS NULL THEN -1
                              ELSE abs(r) END) DESC, lag ASC) AS rn
      FROM ccf
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(m AS BIGINT) AS n_pairs,
           r AS ccf,
           rn = 1 AS is_best_lag
    FROM ranked
    """,
    tags=("W49", "timeseries", "cross-correlation"),
)
def q_ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD-LAG CROSS-CORRELATION between daily click volume and daily
    purchase revenue at lags -{CCF_MAX_LAG}..+{CCF_MAX_LAG}: does
    click traffic LEAD purchases (positive-lag peak = clicks today
    correlate with revenue in ℓ days — the marketing-mix lead time),
    or merely coincide (peak at 0)? W41's ACF is this op's diagonal
    special case; the off-diagonal is what attribution models and
    demand forecasts actually need. ccf(ℓ) =
    Σ(c_t − c̄)(v_{{t+ℓ}} − v̄) / √(Σ(c−c̄)²·Σ(v−v̄)²) with full-series
    means/variances and per-lag overlap sums (the standard sample CCF,
    raw-moment-expanded exactly like W41 so every SUM is an exact
    decimal and the one √ is quantized before use — the ln/sqrt rule).

    Output: one row per lag with the pair count, the 6-dp-quantized
    correlation, and a best-lag flag (max |ccf|, ties to the smallest
    lag — a total order). Scale: both series collapse to the day grain
    first; the lag relation is days × {2 * CCF_MAX_LAG + 1}, joined on
    the calendar — the fact table is never shuffled past the first
    aggregate."""
    e = load(spark, sf_dir, "events")
    dv = daily_revenue(spark, sf_dir).select(
        "day", F.col("v").cast("decimal(19,6)").alias("v"))
    dc = (e.where(F.col("event_type") == CCF_LEAD_EVENT)
          .groupBy(F.to_date(F.date_trunc("day", F.col("ts")))
                   .alias("day"))
          .agg(F.count(F.lit(1)).cast("decimal(19,6)").alias("c")))
    bv = dv.agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum(F.col("v").cast("decimal(20,6)")).cast("double").alias("s1v"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("s2v"))
    bc = dc.agg(
        F.count(F.lit(1)).alias("nc"),
        F.sum("c").cast("double").alias("s1c"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("s2c"))
    lags = spark.range(-CCF_MAX_LAG, CCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag"))
    a = dc.crossJoin(F.broadcast(lags)).select(
        "lag", "c", F.date_add(F.col("day"), F.col("lag")).alias("day_b"))
    b = dv.select(F.col("day").alias("day_b"), "v")
    lagged0 = (a.join(b, "day_b")
               .groupBy("lag")
               .agg(F.count(F.lit(1)).alias("m"),
                    F.sum(F.col("c") * F.col("v").cast("decimal(19,6)"))
                    .cast("double").alias("sxy"),
                    F.sum("c").cast("double").alias("sc"),
                    F.sum(F.col("v").cast("decimal(20,6)"))
                    .cast("double").alias("sv")))
    # a lag whose shifted window overlaps NOTHING (short or gappy
    # series) must still emit its row (n_pairs = 0, ccf NULL) — the
    # inner-join aggregate alone would silently drop it from both the
    # output and the best-lag ranking (r12 advice); rejoining the lag
    # relation keeps the "one row per lag" contract unconditional.
    lagged = (lags.join(lagged0, "lag", "left")
              .select("lag",
                      F.coalesce(F.col("m"), F.lit(0)).alias("m"),
                      "sxy", "sc", "sv"))
    mv = F.col("s1v") / F.col("nv")
    mc = F.col("s1c") / F.col("nc")
    ssv = F.col("s2v") - F.col("nv") * mv * mv
    ssc = F.col("s2c") - F.col("nc") * mc * mc
    den = (bv.crossJoin(F.broadcast(bc))
           .select(
               F.when((ssv <= 0) | (ssc <= 0),
                      F.lit(None).cast("double"))
               .otherwise(F.sqrt(ssv * ssc)
                          .cast("decimal(18,6)").cast("double"))
               .alias("d"),
               mv.alias("mv"), mc.alias("mc")))
    ccf = (lagged.crossJoin(F.broadcast(den))
           .select("lag", "m",
                   F.when(F.col("d").isNull() | (F.col("m") == 0),
                          F.lit(None).cast("double"))
                   .otherwise(((F.col("sxy") - F.col("mv") * F.col("sc")
                                - F.col("mc") * F.col("sv")
                                + F.col("m") * F.col("mc") * F.col("mv"))
                               / F.col("d"))
                              .cast("decimal(18,6)").cast("double"))
                   .alias("r")))
    # the unpartitioned window ranks the 15-row lag relation — bounded
    # by the lag list, never by the data
    rn = F.row_number().over(Window.orderBy(
        F.when(F.col("r").isNull(), F.lit(-1.0))
        .otherwise(F.abs(F.col("r"))).desc(),
        F.col("lag").asc()))
    return (ccf.withColumn("rn", rn)
            .select(F.col("lag").cast("bigint").alias("lag"),
                    F.col("m").cast("bigint").alias("n_pairs"),
                    F.col("r").alias("ccf"),
                    (F.col("rn") == 1).alias("is_best_lag")))
