"""Interval self-join and as-of join (SURVEY.md §2.3 J3, J8) — the two
joins with no single-primitive Spark expression.

Reference capability:
- J3: therapeutic-overlap detection — same patient, same drug class, two
  distinct meds with overlapping active date ranges (reference
  README.md:3,9,23 ``app/rules/overlap.py``).
- J8: as-of pricing — the price in effect at the prescription date from a
  time-versioned price table (README.md:8).

Scale design:
- A naive range self-join is O(n²) per key and degenerates to a
  broadcast-nested-loop at cluster scale. We derive a coarse *time
  bucket* equi-key (bucket width = match window) and explode one side to
  its ±1 neighbors, so Spark executes an ordinary shuffled equi-join on
  (key, bucket); each true pair is produced exactly once, and the
  per-partition candidate set is bounded by bucket population, not by
  per-key row count.
- The as-of join avoids a range join entirely: tag both sides, union,
  and take ``last(..., ignorenulls)`` over a (key, time) window — one
  shuffle, linear state, the standard scalable as-of formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import query

# Match window for the harness interval query: 1 hour, in microseconds.
_W_US = 3_600 * 1_000_000


def interval_self_join(
    df: DataFrame,
    key: str,
    ts_us: str,
    id_col: str,
    window_us: int,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """All pairs (a, b) with a.key == b.key, |a.ts - b.ts| <= window_us and
    a.id < b.id — via bucketed equi-join (each pair emitted exactly once).

    Reusable core for the reference's overlap rule (README.md:23) — the
    domain layer calls this with (patient_id, med interval) inputs.
    """
    a = df.select(
        F.col(key), F.col(ts_us).alias("_a_ts"), F.col(id_col).alias("_a_id"),
        *[F.col(c).alias(f"a_{c}") for c in payload],
    ).withColumn("_bucket", F.floor(F.col("_a_ts") / F.lit(window_us)))
    b_bucket = F.floor(F.col("_b_ts") / F.lit(window_us))
    b = df.select(
        F.col(key).alias("_b_key"), F.col(ts_us).alias("_b_ts"),
        F.col(id_col).alias("_b_id"),
        *[F.col(c).alias(f"b_{c}") for c in payload],
    ).withColumn(
        "_bucket",
        F.explode(F.array(b_bucket - 1, b_bucket, b_bucket + 1)),
    )
    return (
        a.join(b, (a[key] == b["_b_key"]) & (a["_bucket"] == b["_bucket"]))
        .where(
            (F.abs(F.col("_a_ts") - F.col("_b_ts")) <= window_us)
            & (F.col("_a_id") < F.col("_b_id"))
        )
        .drop("_bucket", "_b_key")
    )


@query(
    "q_join_self_interval",
    oracle=f"""
    SELECT
      a.user_id,
      a.event_id AS a_id,
      b.event_id AS b_id,
      ABS(epoch_us(CAST(a.ts AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP)))
        AS abs_delta_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND ABS(epoch_us(CAST(a.ts AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP)))
         <= {_W_US}
    """,
    tags=("J3",),
)
def q_join_self_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: same-user event pairs within 1 hour — the
    harness shape of therapeutic-overlap detection (README.md:3,23).
    The oracle is the naive O(n²)-per-key join; the Spark plan is the
    bucketed equi-join (identical result set, scales linearly)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    pairs = interval_self_join(
        ev, key="user_id", ts_us="ts_us", id_col="event_id",
        window_us=_W_US,
    )
    return pairs.select(
        F.col("user_id"),
        F.col("_a_id").alias("a_id"),
        F.col("_b_id").alias("b_id"),
        F.abs(F.col("_a_ts") - F.col("_b_ts")).alias("abs_delta_us"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: tuple[str, ...],
) -> DataFrame:
    """Left as-of join: for each left row, the right row with the greatest
    right_ts <= left_ts for the same key (left rows with no match keep
    nulls). Union + running ``last(ignorenulls)`` — one shuffle, no range
    join. ``right`` must be unique per (key, right_ts); callers dedup.
    """
    left_payload = [c for c in left.columns if c not in (key, left_ts)]
    tagged_r = right.select(
        F.col(key), F.col(right_ts).alias("_ts"), F.lit(0).alias("_tag"),
        *[F.col(c) for c in right_payload],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_payload],
    )
    tagged_l = left.select(
        F.col(key), F.col(left_ts).alias("_ts"), F.lit(1).alias("_tag"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in right_payload],
        *[F.col(c) for c in left_payload],
    )
    # Right rows sort before left rows at equal timestamps => "at or
    # before" is inclusive.
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged_r.unionByName(tagged_l).select(
        "*",
        *[F.last(c, ignorenulls=True).over(w).alias(f"_asof_{c}")
          for c in right_payload],
    )
    return (
        filled.where(F.col("_tag") == 1)
        .select(
            F.col(key),
            F.col("_ts"),
            *[F.col(c) for c in left_payload],
            *[F.col(f"_asof_{c}").alias(c) for c in right_payload],
        )
    )


@query(
    "q_join_asof",
    oracle="""
    WITH clicks AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts,
             event_id AS click_id,
             value AS click_value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, epoch_us(CAST(ts AS TIMESTAMP))
               ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'click'
    ), c1 AS (
      SELECT user_id, c_ts, click_id, click_value FROM clicks WHERE rn = 1
    ), purch AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts,
             event_id AS purchase_id,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT p.user_id, p.p_ts, p.purchase_id, p.purchase_value,
             c.click_id, c.click_value,
             ROW_NUMBER() OVER (
               PARTITION BY p.purchase_id ORDER BY c.c_ts DESC) AS rn
      FROM purch p
      LEFT JOIN c1 c ON p.user_id = c.user_id AND c.c_ts <= p.p_ts
    )
    SELECT user_id, p_ts, purchase_id, purchase_value, click_id, click_value
    FROM j WHERE rn = 1
    """,
    tags=("J8",),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the latest at-or-before click of the
    same user (the price-in-effect-at-prescription-date shape,
    README.md:8). Oracle = windowed range join; Spark = union/last-fill."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.unix_micros("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id", "c_ts")
                .orderBy(F.desc("click_id"))
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        purchases.withColumnRenamed("p_ts", "_left_ts"),
        clicks.withColumnRenamed("c_ts", "_right_ts"),
        key="user_id",
        left_ts="_left_ts",
        right_ts="_right_ts",
        right_payload=("click_id", "click_value"),
    )
    return joined.select(
        "user_id",
        F.col("_ts").alias("p_ts"),
        "purchase_id",
        "purchase_value",
        "click_id",
        "click_value",
    )


# ---- Nearest-event as-of join (bidirectional) ----------------------------

NEAREST_WINDOW_US = 3600 * 1_000_000  # ±1 hour


@query(
    "q_join_asof_nearest",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS p_us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id AS c_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS c_us
      FROM events WHERE event_type = 'click'
    ), cand AS (
      SELECT p.p_id, c.c_id,
             c.c_us - p.p_us AS dt_us,
             abs(c.c_us - p.p_us) AS adt,
             ROW_NUMBER() OVER (
               PARTITION BY p.p_id
               ORDER BY abs(c.c_us - p.p_us), c.c_us, c.c_id) AS rn
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND abs(c.c_us - p.p_us) <= {NEAREST_WINDOW_US}
    )
    SELECT p_id, c_id, CAST(dt_us AS BIGINT) AS dt_us
    FROM cand WHERE rn = 1
    """,
    tags=("J8", "asof", "nearest"),
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-EVENT AS-OF JOIN: each purchase pairs with the same
    user's temporally CLOSEST click within ±1 h, either direction —
    the sensor-alignment semantics (match the reading nearest the
    event) that the backward-only as-of (J8/q_join_asof) cannot
    express. Deterministic ties: (|Δt|, click time, click id). Scale
    shape: one user-keyed equi join with the window bound as a
    residual predicate (per-user candidate volume is rate-bounded by
    the ±1 h window), one purchase-keyed ranked pass — the J3
    date-bucket prefilter composes in front when single users run
    hot."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("us"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.col("us").alias("p_us"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"), F.col("us").alias("c_us"))
    adt = F.abs(F.col("c_us") - F.col("p_us"))
    w = Window.partitionBy("p_id").orderBy(
        F.abs(F.col("dt_us")), "c_us", "c_id")
    return (
        p.join(c, (p.user_id == c.c_user)
               & (adt <= NEAREST_WINDOW_US))
        .select("p_id", "c_id", "c_us",
                (F.col("c_us") - F.col("p_us")).alias("dt_us"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_id", "c_id", F.col("dt_us").cast("bigint")
                .alias("dt_us"))
    )
