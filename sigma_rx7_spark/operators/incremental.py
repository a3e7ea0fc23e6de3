"""Incremental upsert / MERGE (SURVEY.md §2.4 family, M1).

The reference refreshes its DuckDB tables by re-running the bootstrap
script (reference README.md:36,55-58,75) — a full rewrite. A 100 TB
warehouse cannot rewrite; it applies *change batches* to a base snapshot:
``MERGE INTO base USING changes WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
THEN INSERT``. When base and changes are two slices of one keyed
relation, Spark-first that is one keyed aggregate (``merge_at_cutoff``):
per key, ``max_by`` keeps the latest row of each slice in the partial
aggregate, so one shuffle carries at most one row per key and slice per
partition, and no window, sort-merge join or second scan runs.

At warehouse scale, against a stored base snapshot, the same MERGE is a
keyed full-outer join of two one-row-per-key relations, which is what
Delta/Iceberg MERGE compiles to; bucketing both sides on the merge key
(``io.write_bucketed``) removes its shuffle. The streaming twin
(``streaming.jobs.merge_batch_into_state``) folds each micro-batch into
its state that way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import staging
from ..io import load, read_staged
from ..materialize import share
from ..registry import query

# Events strictly before the cutoff form the base snapshot; the rest are
# the incoming change batch.
MERGE_CUTOFF = "2024-01-16 00:00:00"


def latest_per_key(df: DataFrame, keys: list[str], order_col: str,
                   tiebreak: str) -> DataFrame:
    """One row per key: greatest (order_col, tiebreak). Total ordering via
    the unique tiebreak makes the selection engine-independent."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc(), F.col(tiebreak).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_at_cutoff(rows: DataFrame, keys: list[str], order_col: str,
                    tiebreak: str, cutoff: Column) -> DataFrame:
    """MERGE within one keyed relation split at ``cutoff``: rows whose
    ``order_col`` is before it form the base snapshot, the others the
    change batch, and each side contributes its latest row per key by
    (order_col, tiebreak). A change row overrides its key's base row,
    an unmatched change key inserts, an unmatched base key carries.

    Returns the keys, every other column but ``order_col`` (the
    payload) and ``src``: 'base', 'insert' or 'update'. One aggregate
    over one scan: per key, ``max_by`` picks each side's payload
    struct, ordered by (order_col, tiebreak) on its own side and null on
    the other, and ``src`` follows from which pick is null. A matched
    change with null payload values still wins, a null key is a group of
    its own (as in a null-safe join), and a row with a null
    ``order_col`` belongs to neither side and is dropped. The buffer
    holds structs, so Spark plans a sort aggregate; a packed-decimal
    ordering that gets a hash aggregate measured no faster."""
    payload = [c for c in rows.columns if c not in keys and c != order_col]
    latest = F.struct(order_col, tiebreak)
    is_base = F.col(order_col) < cutoff
    picks = (
        rows.where(F.col(order_col).isNotNull())
        .groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), F.when(is_base, latest))
             .alias("_b"),
             F.max_by(F.struct(*payload), F.when(~is_base, latest))
             .alias("_c"))
    )
    picked = F.coalesce(F.col("_c"), F.col("_b"))
    src = (
        F.when(F.col("_c").isNull(), F.lit("base"))
        .when(F.col("_b").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("src")
    )
    return picks.select(*keys, *[picked[c].alias(c) for c in payload], src)


# Latest change per key applied onto the latest pre-cutoff row per key:
# the one oracle of the batch MERGE and of its streaming twin
# (streaming.jobs.q_stream_merge).
MERGE_ORACLE = f"""
    WITH latest AS (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}'
    ), base AS (
      SELECT user_id, event_type, event_id, value, TRUE AS b_present
      FROM latest WHERE rn = 1
    ), chg_latest AS (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}'
    ), changes AS (
      SELECT user_id, event_type, event_id, value, TRUE AS c_present
      FROM chg_latest WHERE rn = 1
    )
    -- Null-safe join + presence flags: a NULL in a merge-key column
    -- matches across sides (IS NOT DISTINCT FROM; merge_at_cutoff's
    -- NULL group) instead of silently splitting into base+insert rows,
    -- and match detection never keys off column nullness.
    SELECT
      COALESCE(b.user_id, c.user_id) AS user_id,
      COALESCE(b.event_type, c.event_type) AS event_type,
      CASE WHEN c.c_present THEN c.event_id
           ELSE b.event_id END AS event_id,
      CASE WHEN c.c_present THEN c.value
           ELSE b.value END AS value,
      CASE WHEN c.c_present IS NULL THEN 'base'
           WHEN b.b_present IS NULL THEN 'insert'
           ELSE 'update' END AS src
    FROM base b
    FULL OUTER JOIN changes c
      ON b.user_id IS NOT DISTINCT FROM c.user_id
     AND b.event_type IS NOT DISTINCT FROM c.event_type
    """


@query(
    "q_merge_upsert",
    oracle=MERGE_ORACLE,
    tags=("M1", "merge"),
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert: apply the latest change-batch row per (user_id,
    event_type) onto the pre-cutoff base snapshot — update matched keys,
    insert new keys, carry unmatched base keys, tagging each output row
    with its provenance. The incremental-refresh primitive the
    reference's full-rewrite bootstrap becomes at warehouse scale.

    Plan: one scan and one keyed partial/final aggregate
    (``merge_at_cutoff``), one shuffle."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts")
    return merge_at_cutoff(ev, ["user_id", "event_type"], "ts", "event_id",
                           F.lit(MERGE_CUTOFF).cast("timestamp"))


@query(
    "q_merge_agg_incremental",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
           MAX(value) AS max_value,
           MIN(CAST(ts AS TIMESTAMP)) AS first_ts
    FROM events
    GROUP BY user_id
    """,
    tags=("M1", "A7", "incremental-agg"),
)
def q_merge_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE: the per-user aggregate snapshot
    built from pre-cutoff history, then refreshed with the post-cutoff
    delta by MERGING aggregate states — count adds, exact-decimal sum
    adds, max takes greatest, first-ts takes least — instead of
    rescanning history. The oracle recomputes over ALL events, so the
    gate proves state-merge ≡ full recompute: exactly the partial/final
    contract Catalyst applies within one query, lifted to cross-batch
    materialized-view refresh (the nightly incremental rollup at 100 TB:
    the delta scan is the only data term; history is one snapshot row
    per key).

    Every merged measure must be a commutative monoid for this to be
    exact — count/sum/max/min are; avg is maintained as (sum, count),
    never averaged averages. The decimal sum makes the refresh
    order-insensitive, so N deltas applied in any grouping converge."""
    ev = load(spark, sf_dir, "events").select("user_id", "value", "ts")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")

    def agg_state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).alias("sum_dec"),
            F.max("value").alias("max_value"),
            F.min("ts").alias("first_ts"),
        )

    base = agg_state(ev.where(F.col("ts") < cutoff)).alias("b")
    delta = agg_state(ev.where(F.col("ts") >= cutoff)).alias("d")
    merged = base.join(delta, on=F.col("b.user_id") == F.col("d.user_id"),
                       how="full_outer")

    def both(col: str, combine):
        return combine(F.col(f"b.{col}"), F.col(f"d.{col}"))

    return merged.select(
        F.coalesce(F.col("b.user_id"), F.col("d.user_id")).alias("user_id"),
        (F.coalesce(F.col("b.n_events"), F.lit(0))
         + F.coalesce(F.col("d.n_events"), F.lit(0))).alias("n_events"),
        (F.coalesce(F.col("b.sum_dec"), F.lit(0).cast("decimal(20,6)"))
         + F.coalesce(F.col("d.sum_dec"), F.lit(0).cast("decimal(20,6)")))
        .cast("double").alias("sum_value"),
        both("max_value", F.greatest).alias("max_value"),
        both("first_ts", F.least).alias("first_ts"),
    )


@query(
    "q_merge_snapshot_diff",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, event_id, value FROM (
        SELECT user_id, event_type, event_id, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
        WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}'
      ) WHERE rn = 1
    ), post AS (
      SELECT user_id, event_type, event_id, value FROM (
        SELECT user_id, event_type, event_id, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT
      COALESCE(b.user_id, p.user_id) AS user_id,
      COALESCE(b.event_type, p.event_type) AS event_type,
      b.event_id AS old_event_id,
      p.event_id AS new_event_id,
      CASE
        WHEN b.user_id IS NULL THEN 'added'
        WHEN p.user_id IS NULL THEN 'removed'
        WHEN b.event_id <> p.event_id THEN 'changed'
        ELSE 'unchanged'
      END AS diff_status
    FROM base b
    FULL OUTER JOIN post p
      ON b.user_id = p.user_id AND b.event_type = p.event_type
    """,
    tags=("M1", "cdc", "diff"),
)
def q_merge_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF (the CDC primitive MERGE consumes): latest-per-key
    state at the cutoff vs latest-per-key state now, full-outer joined
    on the key into added / removed / changed / unchanged rows — how a
    warehouse derives a change feed from two table versions when the
    source system emits none (reference bootstrap = full rewrite,
    README.md:36,55-58; this is its incremental complement, the inverse
    direction of q_merge_upsert which APPLIES a change feed).

    'removed' is structurally absent on append-only events (a key seen
    before the cutoff is still its own latest if nothing newer came) —
    the branch is exercised by tests/test_incremental_cc.py on a
    synthetic keyed table instead; the driver gate covers the other
    three statuses. Scale shape: both snapshots reduce via the same
    (key) windowed latest (one shuffle each, same partitioning reused
    by the join); the diff never ships value payloads, only keys + ids."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts")
    keys = ["user_id", "event_type"]
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    base = latest_per_key(ev.where(F.col("ts") < cutoff),
                          keys, "ts", "event_id")
    post = latest_per_key(ev, keys, "ts", "event_id")
    return snapshot_diff(base, post, keys, "event_id")


@query(
    "q_merge_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, event_id,
             CAST(ts AS TIMESTAMP) AS ts,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, event_id, ts
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           event_type,
           ts AS valid_from,
           -- open intervals carry a far-future sentinel instead of
           -- NULL (SCD-2 warehouse practice; NULL timestamps surface
           -- as pandas NaT in external comparators). 2200-01-01, not
           -- the traditional 9999-12-31: the comparator canonicalizes
           -- through pandas datetime64[ns], which overflows past 2262.
           COALESCE(LEAD(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id),
             TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           LEAD(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current,
           ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS version
    FROM changes
    """,
    tags=("M1", "scd2"),
)
def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2 DIMENSION BUILD: compress each user's event-type
    history into versioned validity intervals — a new version opens only
    when the tracked attribute actually changes (run-length compression
    via lag), valid_to = next version's valid_from (lead), the open
    interval is flagged current. This is the standard
    slowly-changing-dimension derivation a warehouse runs over a change
    history to get point-in-time joinable dimensions; the reference's
    full-rewrite bootstrap (README.md:36,55-58) has no history at all,
    so this is its longitudinal completion (with q_join_asof as the
    consumer that would join facts to these intervals).

    Scale shape: both windows share ONE (user_id)-hash partitioning —
    the change-detection window runs over the full history, the
    version/lead window over the much smaller change relation; Catalyst
    reuses the exchange (same partition key). No payload wider than the
    tracked attribute ever shuffles. Total order (ts, event_id) makes
    run boundaries engine-exact."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts")
    return scd2_intervals(ev)


def scd2_intervals(ev: DataFrame) -> DataFrame:
    """SCD-2 derivation over (user_id, event_type, event_id, ts) rows;
    shared by q_merge_scd2 and the point-in-time consumer
    (q_join_scd2_asof below)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull()
               | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(w2),
            F.lit("2200-01-01 00:00:00").cast("timestamp"),
        ).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).alias("version"),
    )


# Deterministic delete marker for the CDC batch: every 7th event id is a
# tombstone. Keyed to content (not position) so both engines derive the
# identical op column.
CDC_DELETE_MOD = 7

# The one oracle of the batch (q_merge_cdc_apply) and the streaming
# (q_stream_cdc_apply) CDC apply: both converge to this MERGE.
CDC_ORACLE = f"""
    WITH latest AS (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}'
    ), base AS (
      SELECT user_id, event_type, event_id, value, TRUE AS b_present
      FROM latest WHERE rn = 1
    ), chg_latest AS (
      SELECT user_id, event_type, event_id, value,
             CASE WHEN event_id % {CDC_DELETE_MOD} = 0
                  THEN 'D' ELSE 'U' END AS op,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}'
    ), changes AS (
      SELECT user_id, event_type, event_id, value, op, TRUE AS c_present
      FROM chg_latest WHERE rn = 1
    )
    SELECT * FROM (
      SELECT
        COALESCE(b.user_id, c.user_id) AS user_id,
        COALESCE(b.event_type, c.event_type) AS event_type,
        CASE WHEN c.c_present THEN c.event_id
             ELSE b.event_id END AS event_id,
        CASE WHEN c.c_present THEN c.value
             ELSE b.value END AS value,
        CASE WHEN c.c_present IS NULL THEN 'carry'
             WHEN b.b_present IS NULL THEN 'insert'
             ELSE 'update' END AS src,
        c.op AS op
      FROM base b
      FULL OUTER JOIN changes c
        ON b.user_id IS NOT DISTINCT FROM c.user_id
       AND b.event_type IS NOT DISTINCT FROM c.event_type
    ) WHERE op IS NULL OR op <> 'D'
    """


@query(
    "q_merge_cdc_apply",
    oracle=CDC_ORACLE,
    tags=("M1", "cdc"),
)
def q_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY WITH DELETES: the change batch carries an op column
    (U = upsert, D = tombstone — here derived deterministically as every
    7th event id); the latest op per key wins, then MERGE semantics
    extend q_merge_upsert's: matched+U updates, unmatched+U inserts,
    matched+D DELETES the key, unmatched+D is a no-op, untouched base
    keys carry. This is the full Debezium/Delta `MERGE ... WHEN MATCHED
    AND op='D' THEN DELETE` contract — the piece plain upsert cannot
    express — applied as q_merge_upsert's keyed aggregate + post-filter.

    Plan identical to q_merge_upsert's: one scan, one keyed
    partial/final aggregate, one shuffle. The op is a row-local function
    of the picked change row's event id and the tombstone filter a
    row-local predicate, so neither adds a stage. Delete semantics are
    latest-wins per key: a D followed by a later U in the SAME batch
    resurrects the key, because only the latest change row per key is
    applied — the same convergence rule streaming MERGE uses
    (streaming/jobs.py)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts")
    merged = merge_at_cutoff(ev, ["user_id", "event_type"], "ts",
                             "event_id", F.lit(MERGE_CUTOFF).cast("timestamp"))
    op = F.when(
        F.col("src") != "base",
        F.when(F.col("event_id") % CDC_DELETE_MOD == 0, "D").otherwise("U"))
    return merged.select(
        "user_id", "event_type", "event_id", "value",
        F.when(F.col("src") == "base", F.lit("carry"))
        .otherwise(F.col("src")).alias("src"),
        op.alias("op"),
    ).where(F.col("op").isNull() | (F.col("op") != "D"))


def snapshot_diff(base: DataFrame, post: DataFrame, keys: list[str],
                  id_col: str) -> DataFrame:
    """Keyed diff of two snapshots: added / removed / changed /
    unchanged per key, by full-outer join. ``id_col`` is the version
    witness — equal ids mean the row did not change. Reused by
    q_merge_snapshot_diff (driver-gated, no 'removed' on append-only
    input) and driven with a synthetic removed key in tests."""
    b, p = base.alias("b"), post.alias("p")
    cond = [F.col(f"b.{k}") == F.col(f"p.{k}") for k in keys]
    k0 = keys[0]
    return b.join(p, cond, "full_outer").select(
        *[F.coalesce(F.col(f"b.{k}"), F.col(f"p.{k}")).alias(k)
          for k in keys],
        F.col(f"b.{id_col}").alias(f"old_{id_col}"),
        F.col(f"p.{id_col}").alias(f"new_{id_col}"),
        F.when(F.col(f"b.{k0}").isNull(), "added")
        .when(F.col(f"p.{k0}").isNull(), "removed")
        .when(F.col(f"b.{id_col}") != F.col(f"p.{id_col}"), "changed")
        .otherwise("unchanged").alias("diff_status"),
    )


@query(
    "q_join_scd2_asof",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, event_id,
             CAST(ts AS TIMESTAMP) AS ts,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
      FROM events
    ), dim AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS version
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT f.event_id, f.user_id,
           CAST(f.ts AS TIMESTAMP) AS ts,
           d.version, d.event_type AS dim_type,
           CAST(d.valid_from AS TIMESTAMP) AS valid_from
    FROM events f
    JOIN dim d
      ON f.user_id = d.user_id
     AND CAST(f.ts AS TIMESTAMP) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(f.ts AS TIMESTAMP) < d.valid_to)
    """,
    tags=("M4", "J8", "scd2"),
)
def q_join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME JOIN AGAINST THE SCD-2 DIMENSION: every fact event
    joins the dimension VERSION whose validity interval contains its
    event time — the consumption pattern SCD-2 exists for, and the
    correctness contract ('no fact row may see attribute values from
    the future') that a plain latest-value join silently violates.
    Composes q_merge_scd2's derivation (shared helper) with the J8
    as-of family.

    Scale shape: the join is an equi-join on the dimension's natural
    key (user_id) with the interval predicate as a post-join filter —
    per-key version counts are bounded by that key's change count, so
    the filter fan-in is small and the join never degenerates to a
    range-only nested loop (same argument as the overlap rule J3). The
    half-open [valid_from, valid_to) convention makes every event match
    EXACTLY one version (boundary events belong to the newer version),
    which the gate proves: output rows == fact rows. Both windows of
    the derivation and the join itself share one (user_id) hash
    partitioning."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts")
    dim = scd2_intervals(ev).alias("d")
    f = ev.alias("f")
    return (
        f.join(
            dim,
            (F.col("f.user_id") == F.col("d.user_id"))
            & (F.col("f.ts") >= F.col("d.valid_from"))
            & (F.col("d.valid_to").isNull()
               | (F.col("f.ts") < F.col("d.valid_to"))),
        )
        .select(
            F.col("f.event_id").alias("event_id"),
            F.col("f.user_id").alias("user_id"),
            F.col("f.ts").alias("ts"),
            F.col("d.version").alias("version"),
            F.col("d.event_type").alias("dim_type"),
            F.col("d.valid_from").alias("valid_from"),
        )
    )


# ---- Materialized-rollup query answering (aggregate navigator) -----------

def stage_daily_rollup(spark: SparkSession, sf_dir: str) -> str:
    """The materialized view: per (day, event_type) pre-aggregate of the
    event stream, persisted once — exact-decimal value sums so the
    re-aggregation to coarser grains stays engine-exact (algebraic
    states, the q_agg_state_merge contract applied to a stored MV)."""
    from ..compat import q as qd

    def build(path: str) -> None:
        (load(spark, sf_dir, "events")
         .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum(qd("value")).alias("sum_value_dec"))
         .write.mode("overwrite").parquet(path))
    return staging.stage("mv_daily_events", sf_dir, build,
                         inputs=("events",))


@query(
    "q_mv_rollup_answer",
    oracle="""
    -- day/month date_trunc yields DATE in DuckDB; cast back to
    -- TIMESTAMP to match Spark's date_trunc output type.
    SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP))
                AS TIMESTAMP) AS month,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("M1", "materialized-view"),
)
def q_mv_rollup_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-VIEW ANSWERING (the aggregate navigator): a MONTHLY
    report computed from the persisted DAILY pre-aggregate instead of
    the raw event stream — counts add, exact-decimal sums add, so the
    coarser grain is pure state re-aggregation (A28's mergeable-state
    contract applied to a stored rollup). The oracle computes the
    monthly numbers from RAW events: equality proves the MV navigation
    is lossless. At 100 TB this is the interactive-dashboard contract —
    the monthly query touches days × types rows (thousands) instead of
    the raw stream (billions), and the MV refreshes incrementally per
    ingest batch (q_merge_agg_incremental's job)."""
    mv = read_staged(spark, stage_daily_rollup(spark, sf_dir))
    return (
        mv.groupBy(F.date_trunc("month", "day").alias("month"),
                   "event_type")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"),
             F.sum("sum_value_dec").cast("double").alias("sum_value"))
    )


# ---- Incremental join-view maintenance (M7) -------------------------------------

JV_CUTOFF = "1999-01-01"   # orders on/after this date are the fact delta
JV_CUST_MOD = 20           # customers with custkey % 20 == 0 are the dim delta


@query(
    "q_mv_join_maintenance",
    oracle=f"""
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN CAST(o.o_orderdate AS DATE)
                              >= DATE '{JV_CUTOFF}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_from_delta,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,6)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
    tags=("M7", "materialized-view", "delta-join"),
)
def q_mv_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL JOIN-VIEW MAINTENANCE under inserts on BOTH sides —
    the delta algebra every materialized join view runs on:

        (A ∪ ΔA) ⋈ (B ∪ ΔB)
          = A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB

    Here A = pre-{JV_CUTOFF} orders, ΔA = the new day's orders, B =
    established customers, ΔB = newly-registered ones (custkey %
    {JV_CUST_MOD} == 0). The maintained view is the UNION of the four
    terms — the first is the stored snapshot a real system never
    recomputes; the three delta terms are the maintenance work, each
    bounded by a delta's size times join selectivity. The ORACLE is
    the monolithic join: a green hash proves the delta algebra loses
    and invents nothing (M5's agg-maintenance proof, lifted to joins).

    Scale: the three maintenance joins broadcast whichever side is a
    delta (ΔA⋈B broadcasts nothing extra here because B's slice also
    broadcasts at dim scale — at 100 TB it becomes shuffle-on-key with
    the SNAPSHOT term untouched on disk); the per-nation aggregate is
    partial+final. n_from_delta exposes the fact-delta volume so a
    driver check can see the split was non-trivial."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cut = F.lit(JV_CUTOFF).cast("date")
    is_new_o = F.to_date("o_orderdate") >= cut
    is_new_c = F.pmod(F.col("c_custkey"), F.lit(JV_CUST_MOD)) == 0
    base_o, delta_o = o.where(~is_new_o), o.where(is_new_o)
    base_c, delta_c = c.where(~is_new_c), c.where(is_new_c)
    cols = [F.col("o_custkey"), F.col("o_totalprice"),
            F.to_date("o_orderdate").alias("od"), F.col("c_nationkey")]

    def term(fact, dim):
        return fact.join(F.broadcast(dim),
                         fact.o_custkey == dim.c_custkey).select(*cols)

    view = (term(base_o, base_c)            # the stored snapshot
            .unionByName(term(delta_o, base_c))
            .unionByName(term(base_o, delta_c))
            .unionByName(term(delta_o, delta_c)))
    return (view.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.when(F.col("od") >= cut, 1).otherwise(0))
                 .alias("n_from_delta"),
                 F.sum(F.col("o_totalprice").cast("decimal(20,6)"))
                 .alias("rev"))
            .select("c_nationkey",
                    F.col("n_orders").cast("bigint").alias("n_orders"),
                    F.col("n_from_delta").cast("bigint")
                    .alias("n_from_delta"),
                    F.col("rev").cast("decimal(18,2)").cast("double")
                    .alias("revenue")))


# ---- Incremental distinct-count maintenance via KMV merge (M8) ---------------


def _kmv_mm_oracle() -> str:
    from .aggregates import KMV_K
    hv = ("CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)"
          " AS BIGINT) AS DOUBLE) / 4294967296.0")
    return f"""
    WITH base AS (
      SELECT DISTINCT event_type, user_id, {hv} AS hv
      FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}'
    ),
    delta AS (
      SELECT DISTINCT event_type, user_id, {hv} AS hv
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}'
    ),
    sk_base AS (
      SELECT event_type, user_id, hv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY hv, user_id) AS rn FROM base) WHERE rn <= {KMV_K}
    ),
    sk_delta AS (
      SELECT event_type, user_id, hv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY hv, user_id) AS rn FROM delta) WHERE rn <= {KMV_K}
    ),
    merged AS (
      SELECT DISTINCT event_type, user_id, hv FROM (
        SELECT * FROM sk_base UNION ALL SELECT * FROM sk_delta)
    ),
    sk_merged AS (
      SELECT event_type, MAX(hv) AS hk, COUNT(*) AS kk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY hv, user_id) AS rn FROM merged) t
      WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    full_rel AS (
      SELECT DISTINCT event_type, user_id, {hv} AS hv FROM events
    ),
    sk_full AS (
      SELECT event_type, MAX(hv) AS hk, COUNT(*) AS kk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY hv, user_id) AS rn FROM full_rel) t
      WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM full_rel GROUP BY event_type
    )
    SELECT ex.event_type, ex.n_exact,
           CASE WHEN m.kk < {KMV_K} THEN CAST(m.kk AS DOUBLE)
                ELSE ({KMV_K} - 1) / m.hk END AS est_merged,
           CASE WHEN f.kk < {KMV_K} THEN CAST(f.kk AS DOUBLE)
                ELSE ({KMV_K} - 1) / f.hk END AS est_monolithic,
           (CASE WHEN m.kk < {KMV_K} THEN CAST(m.kk AS DOUBLE)
                 ELSE ({KMV_K} - 1) / m.hk END)
             = (CASE WHEN f.kk < {KMV_K} THEN CAST(f.kk AS DOUBLE)
                     ELSE ({KMV_K} - 1) / f.hk END) AS merge_lossless
    FROM ex
    JOIN sk_merged m ON m.event_type = ex.event_type
    JOIN sk_full f ON f.event_type = ex.event_type
    ORDER BY ex.event_type
    """


@query("q_mv_distinct_maintenance", oracle=_kmv_mm_oracle(),
       tags=("M8", "incremental", "sketch"))
def q_mv_distinct_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL DISTINCT-COUNT MAINTENANCE: the per-type distinct-user
    estimate kept fresh across a base/delta batch boundary WITHOUT
    re-scanning the base — merge the base batch's KMV sketch (A21's
    k-smallest portable hashes) with the delta batch's and re-take the
    k smallest. The mergeability identity (k-min of (k-min(A) ∪
    k-min(B)) = k-min(A ∪ B)) makes the maintained estimate EQUAL to
    the monolithic one — not approximately equal — and this query ships
    both plus the equality flag, so the driver hash-proves the lemma on
    real data every round. This is the M-family answer for COUNT
    DISTINCT, the one aggregate M2's additive-state maintenance cannot
    touch (distinct doesn't decompose additively; its mergeable form is
    exactly a sketch).

    Scale shape: each batch contributes a k-row-per-group sketch
    relation (the heavy distinct+rank work is per-batch and never
    revisits history); the merge re-ranks 2k rows per group. Hash
    arithmetic is the A21 exact uint32/2³² form; estimates are one IEEE
    division; groups with fewer than k keys report the exact kept
    count. Sets, not bags: the union dedups (event_type, user_id) so a
    user active in BOTH batches occupies one sketch slot."""
    from .aggregates import KMV_K

    ev = load(spark, sf_dir, "events")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")

    def hashed(rel: DataFrame) -> DataFrame:
        return (rel.select("event_type", "user_id").distinct()
                .withColumn(
                    "hv",
                    F.conv(F.substring(
                        F.md5(F.col("user_id").cast("string")), 1, 8),
                        16, 10).cast("bigint").cast("double")
                    / F.lit(2.0 ** 32)))

    w = Window.partitionBy("event_type").orderBy("hv", "user_id")

    def ksmall(rel: DataFrame) -> DataFrame:
        return (rel.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= KMV_K).drop("rn"))

    def estimate(sk: DataFrame, est_name: str) -> DataFrame:
        agg = (sk.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") <= KMV_K)
               .groupBy("event_type")
               .agg(F.max("hv").alias("hk"),
                    F.count(F.lit(1)).alias("kk")))
        return agg.select(
            "event_type",
            F.when(F.col("kk") < KMV_K, F.col("kk").cast("double"))
            .otherwise(F.lit(float(KMV_K - 1)) / F.col("hk"))
            .alias(est_name))

    base = ksmall(hashed(ev.where(F.col("ts") < cutoff)))
    delta = ksmall(hashed(ev.where(F.col("ts") >= cutoff)))
    merged = base.unionByName(delta).distinct()
    full_rel = share(hashed(ev))
    est_m = estimate(merged, "est_merged")
    est_f = estimate(full_rel, "est_monolithic")
    ex = full_rel.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (ex.join(est_m, "event_type").join(est_f, "event_type")
            .select("event_type", "n_exact", "est_merged",
                    "est_monolithic",
                    (F.col("est_merged") == F.col("est_monolithic"))
                    .alias("merge_lossless"))
            .orderBy("event_type"))
