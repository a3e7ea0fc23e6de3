"""Structured Streaming jobs (SURVEY.md §2.9 T1-T7).

The reference's "real-time" is request/response recomputation (reference
README.md:11,69-71); the Spark-native design expresses the same rule
queries incrementally over an event stream. Each job here reads the
harness ``events`` table *as a stream* (file source + availableNow
trigger), so the driver's batch harness can still verify it: availableNow
processes the full input and terminates, and the result must equal the
batch equivalent — which is exactly the oracle SQL attached to each query
(the batch-equivalence test of SURVEY.md §5.5, enforced by the driver's
own DuckDB comparison).

At scale the same code points at a Kafka/file-drop source with a real
watermark bounding state; nothing else changes — that is the point of the
Structured Streaming API.

Every stream in the package starts here, through ``run_to_memory`` (a
memory sink) or ``fold_stream`` (a ``foreachBatch`` left fold); both
drain through ``_drain``, the package's only ``start()``.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..io import load, read_stream
from ..materialize import share, snapshot
from ..registry import query
from ..operators.aggregates import SRM_ORACLE, ab_arm, ab_pivot, srm_verdict
from ..operators.incremental import (CDC_DELETE_MOD, CDC_ORACLE,
                                     MERGE_CUTOFF, MERGE_ORACLE)

# Session-conf seam for the file source's per-micro-batch rate limit.
# Unset (the default and the harness posture) the source drains in one
# availableNow batch; a deployment — or the two-chunk replay tests —
# sets it so availableNow chops the backlog into bounded micro-batches
# (at 100 TB you ALWAYS bound micro-batch size: an unbounded first
# batch after downtime is an OOM, and replaying through bounded batches
# is exactly the crash-recovery path). This is a deployment knob, not
# a semantic one: the windowed results must be chop-invariant, which
# tests/test_streaming_replay.py proves against each job's own batch
# oracle.
STREAM_MAX_FILES_CONF = "sigma.stream.max_files_per_trigger"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 streaming source: the events table as an append stream through
    ``io.read_stream`` — the file set and ``ts`` normalization of the
    batch ``io.load`` — rate-limited by ``STREAM_MAX_FILES_CONF`` when
    the session sets it."""
    mft = spark.conf.get(STREAM_MAX_FILES_CONF, None)
    opts = {} if mft is None else {"maxFilesPerTrigger": mft}
    return read_stream(spark, sf_dir, "events", **opts)


_START_LOCK = threading.Lock()

# Most state stores per stateful operator. Each costs a fixed commit per
# micro-batch, and past 8 those costs outweigh running them side by side
# (q_stream_hourly_distinct at sf0.1: 2×32 stores 7.9 s warm vs 1.6 s for
# 2×8; 2.8 vs 1.2 s at local[32] on 4 cores). Raise it only once one
# store's keys outgrow an executor.
MAX_STATE_STORES = 8

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
# Writes each checkpoint file to a temp name and renames it with
# FileSystem.rename: rename(2) on a local disk.
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")

# Status messages of a query whose sources are not yet built. A file
# source opens its source log on the stream's own thread after start()
# returns, with the caller's session conf of that moment.
_SOURCES_PENDING = ("Initializing StreamExecution", "Initializing sources")


def _drain(writer: DataStreamWriter, overrides: dict[str, str]) -> None:
    """Run one stream to completion with availableNow. This is the only
    ``start()`` in the package.

    Every stream starts with one shuffle partition, and so one state
    store per stateful operator, per task slot, up to
    ``MAX_STATE_STORES``: a micro-batch commits every store without
    adaptive coalescing, so a store past either bound only adds fixed
    cost. The count never changes what a keyed operator computes.

    Each run gets a fresh checkpoint directory, removed when the run
    ends, so no query resumes another's offsets and nothing is left on
    disk. Its files go through ``FS_CHECKPOINT_MANAGER``. Spark's
    default manager renames through ``FileContext``, and on a local
    disk without the native Hadoop library that rename forks
    ``readlink`` 2-4 times per file (offsets, commits, metadata, source
    log, state deltas, schemas and their ``.crc`` files), about 80
    processes per run. The ``FileSystem`` manager's rename is one
    ``rename(2)`` call. Its caveat, a rename that is not atomic on some
    object stores, cannot arise in a fresh local ``mkdtemp`` directory
    with one writer.

    A query captures the session conf when ``start()`` builds it,
    except for its file sources, which read it when the stream's thread
    builds them just after. So the partition count, the checkpoint
    manager and ``overrides`` hold from ``start()`` until the sources
    exist, under one lock: no other query in the session sees them."""
    spark = writer._spark
    stores = min(spark.sparkContext.defaultParallelism, MAX_STATE_STORES)
    overrides = {**overrides, "spark.sql.shuffle.partitions": str(stores),
                 CHECKPOINT_MANAGER_CONF: FS_CHECKPOINT_MANAGER}
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        writer = (writer.trigger(availableNow=True)
                  .option("checkpointLocation", ckpt))
        with _START_LOCK:
            old = {k: spark.conf.get(k, None) for k in overrides}
            for k, v in overrides.items():
                spark.conf.set(k, v)
            try:
                q = writer.start()
                while q.isActive and q.status["message"] in _SOURCES_PENDING:
                    time.sleep(0.001)
            finally:
                for k, v in old.items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "complete",
                  final_no_data_batch: bool = True) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink and return its rows
    (T1 sink side, batch-verifiable).

    ``final_no_data_batch=False`` skips the trailing zero-row micro-batch
    that watermarked stateful queries run after the backlog drains, only
    to advance the watermark (``noDataMicroBatches`` off). Pass it only
    when the sink content cannot depend on that batch: a complete-mode
    sink already holds the full aggregate after the last data batch, and
    an inner join emits nothing at eviction. Measured at sf0.1:
    q_stream_hourly_distinct 1.67 → 1.00 s warm min, rows identical.
    It holds only for this query's start. The state stores are sized
    by ``_drain``, one per task slot up to ``MAX_STATE_STORES``, as for
    every stream: each store commits once per micro-batch whatever it
    holds, so its count, not its keys, sets that fixed cost.

    The sink is named ``<name>_<uuid>`` and its temp view is dropped as
    soon as it is read: the returned DataFrame keeps the sink's rows,
    the session keeps no name, a user's view called ``name`` is never
    replaced, and the same query can run on two threads at once.
    """
    spark = stream_df.sparkSession
    overrides = {}
    if not final_no_data_batch:
        overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    view = f"{name}_{uuid.uuid4().hex}"
    try:
        _drain(stream_df.writeStream.format("memory").queryName(view)
               .outputMode(output_mode), overrides)
        return spark.table(view)
    finally:
        spark.catalog.dropTempView(view)


def fold_stream(stream_df: DataFrame, init: DataFrame,
                fold: Callable[[DataFrame, DataFrame], DataFrame]
                ) -> DataFrame:
    """Drain a stream through ``foreachBatch`` as a left fold and return
    the final state: ``state = init``, then
    ``state = snapshot(fold(state, batch))`` per micro-batch.

    Only state derived from a micro-batch is snapshotted: ``init`` is a
    plan on the caller's session that outlives the stream, while a
    batch's DataFrame is gone once its callback returns. ``snapshot``
    materializes each state before then, and keeps the state's lineage
    one batch deep instead of replaying every batch since the stream
    started. Every fold here is the identity on an empty batch, so
    empty batches are folded like any other."""
    state = init

    def step(batch: DataFrame, _batch_id: int) -> None:
        nonlocal state
        state = snapshot(fold(state, batch))

    _drain(stream_df.writeStream.foreachBatch(step), {})
    return state


@query(
    "q_stream_hourly_counts",
    oracle="""
    SELECT
      date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T1", "T2", "T3", "streaming"),
)
def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation with a watermark (T2+T3):
    events per (hour, type). availableNow ⇒ result equals the batch
    GROUP BY, which is the oracle."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    return run_to_memory(agg, "stream_hourly_counts",
                         final_no_data_batch=False)


@query(
    "q_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("T5", "streaming"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (T5): first-seen (user, type) pairs survive;
    projecting only the key columns makes the result order-independent
    and equal to batch DISTINCT."""
    ev = read_events_stream(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"])
    return run_to_memory(dedup, "stream_dedup", output_mode="append")


@query(
    "q_stream_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ), marked AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
                  OR LAG(ts_us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ), sessions AS (
      SELECT user_id, ts_us,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
    tags=("T4", "streaming"),
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (T4): 30-minute-gap sessionization per user — the
    encounter-sessionization shape. Oracle = the classic gaps-and-islands
    SQL; session_window.start equals MIN(ts) of the island."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start"))
            .alias("session_start_us"),
            "n_events",
        )
    )
    return run_to_memory(agg, "stream_sessions",
                         final_no_data_batch=False)


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    JOIN customer ON user_id + 1 = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("T7", "streaming"),
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (T7): the event stream joined to the
    static customer dimension (the KB-table enrichment of README.md:8,
    streamed), then aggregated per segment."""
    ev = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    joined = ev.join(
        F.broadcast(cust), ev.user_id + 1 == cust.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
        .alias("sum_value"),
    )
    return run_to_memory(agg, "stream_static_join",
                         final_no_data_batch=False)


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           epoch_us(CAST(b.ts AS TIMESTAMP))
             - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
                                     + INTERVAL 1 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    tags=("T8", "streaming"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (T8): views joined to same-user
    purchases within the following hour — the attribution/conversion
    shape, and the streaming form of the J3/J8 time-condition joins.

    Both sides carry a 2-hour watermark and the join has an event-time
    range bound, so Spark can expire buffered state: a view older than
    watermark - 1 hour can never match again and is dropped. State is
    therefore bounded by stream rate × 3 hours, independent of total
    history — the property that lets this run forever at 100 TB/day.
    availableNow ⇒ one micro-batch ⇒ equals the batch interval join
    (the DuckDB oracle)."""
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("view_ts"))
        & (F.col("p_ts") <= F.col("view_ts") + F.expr("interval 1 hour")),
    )
    out = joined.select(
        "user_id", "view_id", "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    # INNER stream-stream join: matches emit during data batches (both
    # sides buffered); the trailing no-data batch only EVICTS state,
    # which for an inner join emits nothing — so the sink is provably
    # watermark-independent and the 2-store eviction pass (measured
    # 7.5 → 4.4 s warm min, rows identical) is skipped. The LEFT outer
    # twin below MUST keep it: its unmatched-row emissions happen at
    # eviction.
    return run_to_memory(out, "stream_stream_join", output_mode="append",
                         final_no_data_batch=False)


# ---- Streaming incremental MERGE (T1 x M1) -------------------------------

def merge_batch_into_state(prev: DataFrame, bdf: DataFrame,
                           keys: list[str], order_col: str, tiebreak: str,
                           value_cols: list[str]) -> DataFrame:
    """One micro-batch of the streaming MERGE: fold a change batch into
    the running state (keys + value_cols + src + _ord).

    A change row wins against a base-written value unconditionally
    (MERGE change-side precedence: _ord IS NULL marks base rows) and
    against a change-written value only if its (order_col, tiebreak) is
    strictly greater — so replaying batches in ANY order converges to
    latest-per-key over all changes. Exposed at module level so tests
    can drive out-of-order batch sequences directly.

    ``order_col`` must be NON-NULL on every change row: ``_ord IS NULL``
    is the marker for base-written state, so a NULL-ordered change that
    won would demote its key to base precedence (any later change
    overwrites it regardless of event time) and out-of-order replay
    would no longer converge. Callers with nullable event times must
    filter or default them first (q_stream_merge filters ts IS NOT
    NULL before reaching this fold)."""
    from ..operators.incremental import latest_per_key

    c = (
        latest_per_key(bdf, keys, order_col, tiebreak)
        .select(*keys, *value_cols, F.col(order_col).alias("_c_ord"))
        .withColumn("_c_present", F.lit(True))
        .alias("c")
    )
    p = prev.withColumn("_p_present", F.lit(True)).alias("p")
    cond = [F.col(f"p.{k}").eqNullSafe(F.col(f"c.{k}")) for k in keys]
    win = (
        F.col("p._p_present").isNull()
        | F.col("p._ord").isNull()
        | (F.struct(F.col("c._c_ord"), F.col(f"c.{tiebreak}"))
           > F.struct(F.col("p._ord"), F.col(f"p.{tiebreak}")))
    )
    chosen = F.col("c._c_present").isNotNull() & win
    key_cols = [
        F.coalesce(F.col(f"p.{k}"), F.col(f"c.{k}")).alias(k)
        for k in keys
    ]
    vals = [
        F.when(chosen, F.col(f"c.{v}")).otherwise(F.col(f"p.{v}")).alias(v)
        for v in value_cols
    ]
    src = (
        F.when(F.col("p._p_present").isNull(), F.lit("insert"))
        .when(chosen & (F.col("p.src") == "base"), F.lit("update"))
        .otherwise(F.col("p.src"))
        .alias("src")
    )
    new_ord = (
        F.when(chosen, F.col("c._c_ord"))
        .otherwise(F.col("p._ord"))
        .alias("_ord")
    )
    return (
        p.join(c, cond, "full_outer")
        .select(*key_cols, *vals, src, new_ord)
    )


def streaming_merge(base: DataFrame, change_stream: DataFrame,
                    keys: list[str], order_col: str,
                    tiebreak: str) -> DataFrame:
    """Apply a change STREAM onto a base snapshot with MERGE semantics
    and return the merged relation (keys + value columns + ``src``).

    ``fold_stream`` starts from the base (``src = 'base'``) and folds
    each micro-batch in with ``merge_batch_into_state``: the batch is
    deduped to latest-per-key, and a change row replaces a key's value
    if the base wrote it or if the change is event-time greater than the
    change that last wrote it. ``src`` records the provenance of each
    key's current value: 'base' = untouched, 'insert' = a key the base
    did not hold (it stays 'insert' across later updates), 'update' =
    a base key some change overwrote. The state is one row per live key
    plus the ``order_col`` of its last writer (``_ord``, dropped on
    return), whatever the stream's length.

    Because a later batch wins only when it is event-time greater, the
    result equals latest-per-key over ALL changes however the stream is
    chopped into micro-batches, out-of-order batches included, and
    equals the one-shot batch MERGE. This is the foreachBatch upsert
    sink that Structured Streaming pairs with ``MERGE INTO`` at
    warehouse scale; here the target is an in-session relation.
    """
    value_cols = [c for c in base.columns if c not in keys]
    if tiebreak not in value_cols:
        raise ValueError("tiebreak column must be carried in base")
    ord_type = change_stream.schema[order_col].dataType
    init = (base.withColumn("src", F.lit("base"))
            .withColumn("_ord", F.lit(None).cast(ord_type)))
    merged = fold_stream(
        change_stream, init,
        lambda state, batch: merge_batch_into_state(
            state, batch, keys, order_col, tiebreak, value_cols))
    return merged.drop("_ord")


@query(
    "q_stream_merge",
    oracle=MERGE_ORACLE,
    tags=("T1", "M1", "streaming", "merge"),
)
def q_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert: the post-cutoff events arrive as a STREAM and
    are merged per micro-batch onto the pre-cutoff base snapshot — the
    incremental-refresh form of q_merge_upsert (same cutoff, same
    semantics, same oracle). availableNow drains the change file in one
    batch, so the driver-verified result equals the one-shot batch
    MERGE; multi-batch convergence (values reach latest-per-key even
    when batches arrive out of event-time order, via the _ord state
    column) is asserted in tests/test_streaming_merge.py."""
    from ..operators.incremental import latest_per_key

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    keys = ["user_id", "event_type"]
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts")
    base = latest_per_key(
        ev.where(F.col("ts") < cutoff), keys, "ts", "event_id").drop("ts")
    change_stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("ts") >= cutoff)
        .select("user_id", "event_type", "event_id", "value", "ts")
    )
    return streaming_merge(base, change_stream, keys, "ts", "event_id")


@query(
    "q_stream_sliding_counts",
    oracle="""
    WITH starts AS (
      SELECT event_type, value,
             make_timestamp(
               (epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(CAST(ts AS TIMESTAMP)) % 900000000)
               - k.k * 900000000) AS window_start
      FROM events
      CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM starts
    GROUP BY window_start, event_type
    """,
    tags=("T3", "streaming", "sliding"),
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window streaming aggregation (the T3 variant tumbling
    windows don't cover): 1-hour windows advancing every 15 minutes, so
    each event lands in exactly 4 overlapping windows — the rolling
    alert-rate view (reference README.md:11's "real-time" UX, made
    actually real-time). availableNow ⇒ the result equals the batch
    expansion, which the oracle states literally: per event, the 4
    slide-aligned window starts via epoch-µs floor arithmetic
    (`make_timestamp` of `epoch - epoch%slide - k·slide`), then the
    same grouped count/exact-decimal sum.

    Scale note: sliding windows multiply state by window/slide (4× here)
    — that factor is the knob, watermark expiry still bounds total state
    at rate × (window + lateness); Spark stores one state row per
    (window, key), not per event."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    return run_to_memory(agg, "stream_sliding_counts",
                         final_no_data_batch=False)


@query(
    "q_stream_cdc_apply",
    oracle=CDC_ORACLE,
    tags=("T9", "M5", "streaming", "cdc"),
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC APPLY WITH DELETES: the streaming twin of
    q_merge_cdc_apply — the change stream carries op U/D (every 7th
    event id a tombstone) and each micro-batch folds into the running
    state with latest-op-wins. The critical design point vs plain
    streaming MERGE: a delete is NOT applied by physically dropping the
    key mid-stream — the tombstone is RETAINED in state (op column, a
    plain value column under the _ord latest-wins fold), because a
    later out-of-order batch could carry an older U for the same key
    that must still LOSE to the newer D. Physical removal happens once,
    at read-out ('compaction'): filter latest-op ≠ D. This is exactly
    the Delta/Iceberg/LSM tombstone discipline, and it is what makes
    the result equal to the one-shot batch CDC apply no matter how the
    stream is chopped into batches.

    availableNow drains the change file, so the driver-verified result
    equals the batch oracle; state stays one row per live-or-tombstoned
    key (bounded by key cardinality, compactable at watermark)."""
    from ..operators.incremental import latest_per_key

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    keys = ["user_id", "event_type"]
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "value", "ts")
    base = (
        latest_per_key(ev.where(F.col("ts") < cutoff),
                       keys, "ts", "event_id")
        .drop("ts")
        .withColumn("op", F.lit(None).cast("string"))
    )
    change_stream = (
        read_events_stream(spark, sf_dir)
        .where(F.col("ts") >= cutoff)
        .select(
            "user_id", "event_type", "event_id", "value", "ts",
            F.when(F.col("event_id") % CDC_DELETE_MOD == 0, "D")
            .otherwise("U")
            .alias("op"))
    )
    merged = streaming_merge(base, change_stream, keys, "ts", "event_id")
    return (
        merged.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "user_id", "event_type", "event_id", "value",
            F.when(F.col("src") == "base", F.lit("carry"))
            .otherwise(F.col("src")).alias("src"),
            "op",
        )
    )


# ---- Streaming ingest dedup (T9 x L1) ------------------------------------

def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as an append stream through ``io.read_stream``:
    the file set ``io.load`` reads, exact file or directory of part
    files alike."""
    return read_stream(spark, sf_dir, "documents")


def fold_digest_state(prev: DataFrame, batch: DataFrame) -> DataFrame:
    """Fold one micro-batch of documents into the digest-dedup state.

    State = one row per (digest, source): how many docs that source
    contributed to the digest, and the smallest (doc_id, n_chars) it
    holds. Both folds are ASSOCIATIVE AND COMMUTATIVE (sum, struct-min),
    so the converged state — and everything derived from it — is
    independent of how arrivals are chopped into batches or ordered
    (q_stream_cdc_apply's retained-state discipline, without even
    needing an order column).
    """
    b = (
        batch.select(F.md5("text").alias("dig"), "source",
                     F.struct("doc_id", "n_chars").alias("mindoc"))
        .groupBy("dig", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("mindoc").alias("mindoc"))
    )
    merged = (
        prev.alias("p").join(b.alias("c"), ["dig", "source"], "full_outer")
        .select(
            "dig", "source",
            (F.coalesce(F.col("p.n_docs"), F.lit(0))
             + F.coalesce(F.col("c.n_docs"), F.lit(0))).alias("n_docs"),
            F.least(F.col("p.mindoc"), F.col("c.mindoc")).alias("mindoc"),
        )
    )
    return merged


def ingest_dedup_report(state: DataFrame) -> DataFrame:
    """Read-out: derive per-source fates from the converged state. The
    winner of each digest is the globally smallest (doc_id, n_chars)
    struct; a source's ingested count is the number of digests it wins."""
    # state feeds the global-winner aggregate AND the per-source report
    state = share(state)
    g = state.groupBy("dig").agg(F.min("mindoc").alias("gmin"))
    per = state.join(g, "dig").select(
        "source", "n_docs",
        F.when(F.col("mindoc") == F.col("gmin"), 1).otherwise(0)
        .alias("won"),
        F.when(F.col("mindoc") == F.col("gmin"),
               F.col("gmin.n_chars")).otherwise(0).alias("won_chars"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("won").cast("bigint").alias("n_ingested"),
            (F.sum("n_docs") - F.sum("won")).cast("bigint").alias("n_dup"),
            F.sum("won_chars").cast("bigint").alias("ingested_chars"),
        )
    )


@query(
    "q_stream_ingest_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars, md5(text) AS dig FROM documents
    ), w AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY dig ORDER BY doc_id) AS rn
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ingested,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS ingested_chars
    FROM w
    GROUP BY source
    """,
    tags=("T9", "L1", "streaming", "dedup"),
)
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INGEST DEDUP (T9 × L1): documents arrive as a stream
    and fold per micro-batch into a digest-keyed dedup state — the
    continuously-running form of q_pipeline_incremental_dedup's nightly
    gate, and the L1 counterpart of q_stream_merge's relational upsert.
    Fates (ingested / duplicate) are derived at READ-OUT from the
    converged state, whose folds are associative+commutative (count
    sum, struct-min keeper), so the report is provably independent of
    batch boundaries and arrival order and equals the one-shot batch
    dedup the oracle states.

    Scale shape: state carries one row per (digest, source) — 32-byte
    digests, never text; each batch contributes a pre-aggregated
    (digest, source) relation (map-side collapse before the state
    join); ``snapshot`` keeps state lineage one batch deep. At
    warehouse scale this state IS the dedup index, persisted as a table
    and merged with `MERGE INTO`."""
    empty = spark.createDataFrame(
        [], "dig string, source string, n_docs bigint, "
            "mindoc struct<doc_id: bigint, n_chars: bigint>")
    state = fold_stream(read_documents_stream(spark, sf_dir), empty,
                        fold_digest_state)
    return ingest_dedup_report(state)


@query(
    "q_stream_stream_left",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           epoch_us(CAST(b.ts AS TIMESTAMP))
             - epoch_us(CAST(a.ts AS TIMESTAMP)) AS gap_us
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
     AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP)
                                     + INTERVAL 1 HOUR
    CROSS JOIN mx
    WHERE a.event_type = 'view'
      AND (b.event_id IS NOT NULL
           OR CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
              < mx.max_ts - INTERVAL 2 HOUR)
    """,
    tags=("T8", "streaming", "outer"),
)
def q_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (T8's harder sibling):
    views with NO purchase in the following hour surface as explicit
    NULL rows — but only once the watermark proves no match can still
    arrive, which is the semantic difference from the batch left join:
    an unmatched view finalizes when watermark (= max event time − 2 h)
    passes view_ts + 1 h, so the stream's last ~3 h of unmatched views
    are STILL PENDING at shutdown, by design, awaiting more data. The
    oracle encodes exactly that cutoff (matches emit unconditionally;
    null rows only for watermark-expired views), so the gate checks the
    real streaming contract instead of pretending the tail doesn't
    exist. State stays bounded by rate × 3 h exactly as in the inner
    form."""
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("view_ts"))
        & (F.col("p_ts") <= F.col("view_ts") + F.expr("interval 1 hour")),
        "leftOuter",
    )
    out = joined.select(
        "user_id", "view_id", "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    return run_to_memory(out, "stream_stream_left", output_mode="append")


@query(
    "q_stream_dedup_watermarked",
    oracle="""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    GROUP BY user_id, event_type
    """,
    tags=("T5", "streaming", "watermark"),
)
def q_stream_dedup_watermarked(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup via
    ``dropDuplicatesWithinWatermark``: unlike plain ``dropDuplicates``
    (q_stream_dedup), whose key state grows with the number of DISTINCT
    keys forever, this variant guarantees dedup only for duplicates
    arriving within the watermark delay of first sight and EVICTS key
    state once the watermark passes — the right contract when
    duplicates come from retries/replays (always near-in-time) and the
    key space is unbounded, i.e. the 100 TB/day ingest case. The
    harness file arrives as one availableNow micro-batch, so no
    eviction can split a duplicate group and the result equals global
    DISTINCT — which is exactly what the oracle checks; the state
    BOUND (plateau across batches) is asserted separately in
    tests/test_streaming_state.py's plateau discipline."""
    ev = read_events_stream(spark, sf_dir)
    dedup = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    )
    return run_to_memory(dedup, "stream_dedup_wm",
                         output_mode="complete",
                         final_no_data_batch=False)


# ---- Streaming materialized-view refresh (T9 × A28) ----------------------

def mv_fold(prev: DataFrame, batch_states: DataFrame) -> DataFrame:
    """Fold one micro-batch's partial (day, type) states into the
    running MV: union + re-aggregate — pure state ADDITION (counts and
    exact-decimal sums are algebraic), so batch order cannot matter."""
    return (
        prev.unionByName(batch_states)
        .groupBy("day", "event_type")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value_dec").alias("sum_value_dec"))
    )


@query(
    "q_stream_mv_refresh",
    oracle="""
    -- DATE->TIMESTAMP cast: DuckDB's day-grain date_trunc returns
    -- DATE, Spark's returns TIMESTAMP (repo convention).
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                AS TIMESTAMP) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("T9", "A28", "streaming", "materialized-view"),
)
def q_stream_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MV REFRESH — the third leg of the materialized-view
    trio (q_mv_rollup_answer consumes the MV; q_merge_agg_incremental
    refreshes it batch-to-batch; this maintains it FROM THE STREAM):
    each micro-batch collapses to per-(day, type) partial states inside
    foreachBatch, and ``mv_fold`` merges them into the running MV by
    pure state addition, so convergence is batch-order-independent by
    construction (the A28 mergeable-state argument, live). The oracle
    is the full batch aggregate over raw events: equality proves the
    incrementally-maintained MV never drifts from truth. At 100 TB the
    per-batch work is one partial aggregate of THE BATCH plus a merge
    against days×types rows — never a rescan of history."""
    from ..compat import q as qd

    ev = read_events_stream(spark, sf_dir).select(
        F.date_trunc("day", "ts").alias("day"), "event_type", "value")
    empty = spark.createDataFrame(
        [], "day timestamp, event_type string, n_events bigint, "
            "sum_value_dec decimal(28,6)")

    def fold(state: DataFrame, batch: DataFrame) -> DataFrame:
        batch_states = batch.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(qd("value")).cast("decimal(28,6)")
            .alias("sum_value_dec"))
        return mv_fold(state, batch_states)

    mv = fold_stream(ev, empty, fold)
    return mv.select(
        "day", "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value_dec").cast("double").alias("sum_value"))


# ---- Streaming windowed top-k (T11) ----------------------------------------

STREAM_TOPK = 3


@query(
    "q_stream_topk",
    oracle=f"""
    WITH counts AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY n_events DESC, event_type) AS rk
      FROM counts
    )
    SELECT day, event_type, CAST(n_events AS BIGINT) AS n_events,
           CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {STREAM_TOPK}
    """,
    tags=("T11", "streaming", "topk"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WINDOWED TOP-K: the k most frequent event types per
    tumbling day window — the live "trending now" leaderboard. Built as
    the standard two-layer shape: the STREAMING layer maintains the
    per-(window, type) counts incrementally (watermarked tumbling-window
    aggregation — type cardinality is bounded, so state is tiny and the
    update is a pure upsert); the RANK is applied on the materialized
    serving table per refresh, because a global per-window rank is not
    incrementally maintainable in the aggregation itself (a late event
    can reorder the whole leaderboard — exactly why serving layers
    re-rank on read). availableNow drains the file stream, making the
    result equal the batch window + row_number plan, which is the
    oracle. Tiebreak by event_type makes the selected rowset total-order
    deterministic."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    agg = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("day"),
                "event_type", "n_events")
    )
    mat = run_to_memory(agg, "stream_topk", final_no_data_batch=False)
    w = Window.partitionBy("day").orderBy(
        F.col("n_events").desc(), "event_type")
    return (
        mat.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STREAM_TOPK)
        .select("day", "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("rk").cast("int").alias("rk"))
    )


# ---- Streaming SCD-2 point-in-time enrichment (T12) -------------------------


@query(
    "q_stream_scd2_enrich",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderkey,
             CAST(o_orderdate AS TIMESTAMP) AS ts,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey)
               AS prev_p
      FROM orders
    ), changes AS (
      SELECT o_custkey, o_orderpriority, o_orderkey, ts
      FROM ordered WHERE prev_p IS NULL OR prev_p <> o_orderpriority
    ), dim AS (
      SELECT o_custkey AS cust, o_orderpriority AS priority,
             ts AS valid_from,
             COALESCE(LEAD(ts) OVER (
               PARTITION BY o_custkey ORDER BY ts, o_orderkey),
               TIMESTAMP '2200-01-01 00:00:00') AS valid_to
      FROM changes
    )
    SELECT e.event_id, e.user_id,
           CAST(e.ts AS TIMESTAMP) AS ts,
           d.priority AS priority_at_event
    FROM events e
    JOIN dim d ON e.user_id + 1 = d.cust
              AND CAST(e.ts AS TIMESTAMP) >= d.valid_from
              AND CAST(e.ts AS TIMESTAMP) < d.valid_to
    """,
    tags=("T12", "streaming", "scd2"),
)
def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING POINT-IN-TIME ENRICHMENT: each streamed event joins the
    SCD-2 customer-priority dimension on the interval covering its event
    time — the live form of the M4b batch as-of join, and the shape
    every real-time feature store serves ("what was this customer's
    tier WHEN the event happened", never the current tier, which leaks
    the future into training data). The dimension is built batch-side
    with the SAME scd2_intervals derivation the batch family uses
    (operators/incremental.py) — one code path for the dimension,
    consumed by both engines.

    Scale shape: a stream-static inner join — the static side is
    re-read per microbatch (so a dimension refresh lands without
    restarting the stream) and broadcasts when small; at warehouse
    scale the dimension is bucketed on the join key. The interval
    predicate rides ON the join (per-key intervals are few), never a
    post-join filter over a cross product. availableNow drains the
    stream, making the result equal the batch interval join, which is
    the oracle. The user_id+1 = custkey offset is the harness's
    referential convention (same as the T7 stream-static join)."""
    from ..operators.incremental import scd2_intervals

    orders = load(spark, sf_dir, "orders")
    dim = scd2_intervals(
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderpriority").alias("event_type"),
            F.col("o_orderkey").alias("event_id"),
            F.col("o_orderdate").alias("ts"))
    ).select(
        F.col("user_id").alias("cust"),
        F.col("event_type").alias("priority"),
        "valid_from", "valid_to")

    ev = read_events_stream(spark, sf_dir)
    joined = ev.join(
        F.broadcast(dim),
        (ev.user_id + 1 == dim.cust)
        & (ev.ts >= dim.valid_from) & (ev.ts < dim.valid_to),
    ).select("event_id", "user_id", "ts",
             F.col("priority").alias("priority_at_event"))
    return run_to_memory(joined, "stream_scd2_enrich",
                         output_mode="append")


# ---- Streaming sample-ratio-mismatch guardrail (T13) -------------------------


@query(
    "q_stream_srm",
    oracle=SRM_ORACLE,
    tags=("T13", "streaming", "abtest", "guardrail"),
)
def q_stream_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SRM GUARDRAIL — the live twin of q_ab_srm, oracle-gated
    against the SAME batch SQL (availableNow drains the file source, so
    the streamed verdict equals the batch one: the lambda-architecture
    equivalence claim, checkable). First-seen users dedup in partitioned
    state (the assignment counter must count USERS, not events — an SRM
    alarm that double-counts chatty users is itself biased), the arm
    counts fold in a streaming aggregate, and the chi-square verdict is
    computed on the 2-value result AFTER the sink (driver-side
    arithmetic over an O(1) relation, not a collect of data).

    In production this runs with a real trigger and the alarm fires
    mid-experiment — the whole point of an SRM check; state is bounded
    by the user universe, the same bound q_stream_dedup already
    carries."""
    ev = read_events_stream(spark, sf_dir)
    users = ev.select("user_id").dropDuplicates(["user_id"]).select(
        ab_arm())
    counts = users.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    arms = run_to_memory(counts, "stream_srm", output_mode="complete",
                         final_no_data_batch=False)
    return srm_verdict(arms.agg(*ab_pivot("n", fill=0)))


# ---- Streaming distribution-drift monitor (T14) ------------------------------


def _stream_psi_oracle() -> str:
    from ..operators.quality import _PSI_CUTOFF, PSI_BUCKETS
    cuts_cols = ", ".join(
        f"MAX(CASE WHEN bucket = {k} THEN hi END) AS c{k}"
        for k in range(1, PSI_BUCKETS))
    asg = " ".join(f"+ CAST(x.value > cuts.c{k} AS INT)"
                   for k in range(1, PSI_BUCKETS))
    return f"""
    WITH a AS (
      SELECT value, event_id FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{_PSI_CUTOFF}'
    ), dec AS (
      SELECT bucket, MAX(value) AS hi FROM (
        SELECT value,
               NTILE({PSI_BUCKETS}) OVER (ORDER BY value, event_id)
                 AS bucket
        FROM a)
      GROUP BY bucket
    ), cuts AS (
      SELECT {cuts_cols} FROM dec
    ), asg_a AS (
      SELECT 1 {asg.replace('x.value', 'a.value')} AS bucket
      FROM a, cuts
    ), na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM asg_a),
    ca AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM asg_a GROUP BY bucket),
    b AS (
      SELECT value,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
               AS day
      FROM events WHERE CAST(ts AS TIMESTAMP)
                        >= TIMESTAMP '{_PSI_CUTOFF}'
    ), asg_b AS (
      SELECT x.day, 1 {asg} AS bucket FROM b x, cuts
    ), nb AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM asg_b GROUP BY day
    ), cb AS (
      SELECT day, bucket, CAST(COUNT(*) AS BIGINT) AS n_b
      FROM asg_b GROUP BY day, bucket
    ), grid AS (
      SELECT nb.day, g.bucket, nb.n AS n_day
      FROM nb CROSS JOIN (
        SELECT CAST(unnest(range(1, {PSI_BUCKETS + 1})) AS INT)
          AS bucket) g
    ), terms AS (
      SELECT grid.day, grid.n_day,
             CAST(((COALESCE(cb.n_b, 0) + 1.0)
                     / (grid.n_day + {PSI_BUCKETS})
                   - (COALESCE(ca.n_a, 0) + 1.0)
                     / ((SELECT n FROM na) + {PSI_BUCKETS}))
                  * CAST(ln(((COALESCE(cb.n_b, 0) + 1.0)
                               / (grid.n_day + {PSI_BUCKETS}))
                            / ((COALESCE(ca.n_a, 0) + 1.0)
                               / ((SELECT n FROM na) + {PSI_BUCKETS})))
                         AS DECIMAL(18,6))
                  AS DECIMAL(27,9)) AS term
      FROM grid
      LEFT JOIN cb ON cb.day = grid.day AND cb.bucket = grid.bucket
      LEFT JOIN ca ON ca.bucket = grid.bucket
    )
    SELECT day, CAST(MAX(n_day) AS BIGINT) AS n_events,
           CAST(SUM(term) AS DOUBLE) AS psi
    FROM terms GROUP BY day
    """


@query(
    "q_stream_psi",
    oracle=_stream_psi_oracle(),
    tags=("T14", "streaming", "drift"),
)
def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DRIFT MONITOR: per-day PSI of the live value stream
    against an offline reference distribution — the production drift
    deployment (Q3 is the batch audit; this is the monitor that pages).
    Decile edges are learned OFFLINE from the pre-cutoff reference (the
    universal pattern: edges ship as a broadcast artifact, never
    learned from the stream), the post-cutoff stream bucket-assigns via
    a stream-static broadcast join, daily bucket counts fold in a
    streaming aggregate, and the PSI fold runs over the O(days×buckets)
    serving table. availableNow drains the file source, so the streamed
    per-day PSI equals the batch computation — the oracle.

    Determinism: per-bucket PSI terms carry the Q3 quantized-ln
    discipline and additionally quantize each TERM to the 9-dp grid
    before the per-day sum, so a 10-term sum can never depend on
    aggregation order. State is bounded by days×buckets."""
    from ..compat import QDEC
    from ..operators.quality import PSI_BUCKETS
    from ..operators.incremental import MERGE_CUTOFF
    from pyspark.sql import Window

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    ev = load(spark, sf_dir, "events")
    a = ev.where(F.col("ts") < cutoff).select("value", "event_id")
    dec = (
        a.select("value",
                 F.ntile(PSI_BUCKETS)
                 .over(Window.orderBy("value", "event_id"))
                 .alias("bucket"))
        .groupBy("bucket").agg(F.max("value").alias("hi")))
    cuts = share(dec.agg(*[
        F.max(F.when(F.col("bucket") == k, F.col("hi"))).alias(f"c{k}")
        for k in range(1, PSI_BUCKETS)
    ]).withColumn("j", F.lit(1)))

    def bucket_expr():
        return sum(
            (F.col(f"c{k}") < F.col("value")).cast("int")
            for k in range(1, PSI_BUCKETS)) + F.lit(1)

    asg_a = a.withColumn("j", F.lit(1)) \
        .join(F.broadcast(cuts), "j").select(bucket_expr().alias("bucket"))
    ca = asg_a.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"))
    na = asg_a.agg(F.count(F.lit(1)).cast("bigint").alias("na"))

    # The stream side carries the learned edges as LITERALS — the
    # broadcast-artifact semantics a deployed monitor has (k-1 scalars
    # of bounded index metadata, the z-order-bounds precedent), and it
    # sidesteps joining a streaming relation with a shared 1-row
    # batch relation, which Spark 4 rejects.
    edge_row = cuts.collect()[0]
    stream_bucket = sum(
        (F.lit(edge_row[f"c{k}"]) < F.col("value")).cast("int")
        for k in range(1, PSI_BUCKETS)) + F.lit(1)
    stream = (read_events_stream(spark, sf_dir)
              .where(F.col("ts") >= cutoff))
    daily = (
        stream.groupBy(F.window("ts", "1 day").alias("w"),
                       stream_bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_b"))
        .select(F.to_date(F.col("w.start")).alias("day"), "bucket",
                "n_b"))
    served = run_to_memory(daily, "stream_psi", output_mode="complete",
                           final_no_data_batch=False)

    nb = served.groupBy("day").agg(
        F.sum("n_b").cast("bigint").alias("n_day"))
    grid = nb.crossJoin(
        F.broadcast(spark.range(1, PSI_BUCKETS + 1).select(
            F.col("id").cast("int").alias("bucket"))))
    # rename the serving table's key columns before re-joining it with
    # its own aggregate (same memory-sink view on both sides of the
    # join would otherwise carry conflicting attribute ids)
    sv = served.select(F.col("day").alias("s_day"),
                       F.col("bucket").alias("s_bucket"), "n_b")
    j = (grid.join(sv, (F.col("day") == F.col("s_day"))
                   & (F.col("bucket") == F.col("s_bucket")), "left")
         .join(F.broadcast(ca), "bucket", "left")
         .crossJoin(F.broadcast(na)))
    p_ref = (F.coalesce(F.col("n_a"), F.lit(0)) + 1.0) \
        / (F.col("na") + PSI_BUCKETS)
    p_day = (F.coalesce(F.col("n_b"), F.lit(0)) + 1.0) \
        / (F.col("n_day") + PSI_BUCKETS)
    term = ((p_day - p_ref)
            * F.log(p_day / p_ref).cast(QDEC).cast("double")) \
        .cast("decimal(27,9)")
    return (j.select("day", "n_day", term.alias("term"))
            .groupBy("day")
            .agg(F.max("n_day").cast("bigint").alias("n_events"),
                 F.sum("term").cast("double").alias("psi")))


# ---- Streaming anomaly monitor vs offline baseline (T15) ---------------------

ANOM_Z = 3.0  # |z| threshold against the offline baseline


def _stream_anomaly_oracle() -> str:
    from ..operators.incremental import MERGE_CUTOFF
    return f"""
    WITH base AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(value AS DECIMAL(20,6))
                           * CAST(value AS DECIMAL(20,6))
                  AS DECIMAL(38,12))) AS DOUBLE) AS s2
      FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{MERGE_CUTOFF}'
        AND value IS NOT NULL
      GROUP BY event_type
    ),
    stats AS (
      SELECT event_type, n, s1 / n AS mean,
             sqrt(CASE WHEN s2 / n - (s1 / n) * (s1 / n) < 0 THEN 0
                       ELSE s2 / n - (s1 / n) * (s1 / n) END) AS sd
      FROM base
    ),
    live AS (
      SELECT CAST(date_trunc('day', CAST(e.ts AS TIMESTAMP)) AS DATE)
               AS day,
             e.event_type,
             CAST(abs((e.value - s.mean) / s.sd) AS DECIMAL(18,6))
               AS az
      FROM events e JOIN stats s ON s.event_type = e.event_type
      WHERE CAST(e.ts AS TIMESTAMP) >= TIMESTAMP '{MERGE_CUTOFF}'
        AND e.value IS NOT NULL AND s.sd > 0
    )
    SELECT day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN CAST(az AS DOUBLE) > {ANOM_Z}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           CAST(CAST(CAST(SUM(CASE WHEN CAST(az AS DOUBLE) > {ANOM_Z}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                AS DECIMAL(18,6)) AS DOUBLE) AS anomaly_rate,
           CAST(MAX(az) AS DOUBLE) AS max_abs_z
    FROM live
    GROUP BY day, event_type
    """


@query(
    "q_stream_anomaly",
    oracle=_stream_anomaly_oracle(),
    tags=("T15", "streaming", "anomaly"),
)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANOMALY MONITOR: the live post-cutoff value stream
    scored against an OFFLINE per-family baseline (pre-cutoff mean/σ),
    flagging |z| > {ANOM_Z} and folding per-(day, family) anomaly
    counts in a streaming aggregate — A14's batch z-screen deployed
    the way a monitor actually runs: the baseline is a fitted artifact
    (broadcast stream-static join, the T7 surface), the stream only
    carries (day, family) counter state, and retraining the baseline
    is an offline job swap. T14 watches the DISTRIBUTION drift; this
    pages on individual outliers.

    availableNow drains the file stream, so the streamed daily counts
    equal the batch computation — the oracle runs that batch algebra.
    Baseline moments use the A43 decimal two-sum discipline; the
    per-row |z| is 6-dp-quantized BEFORE both the threshold compare
    and the max, so flags and maxima are engine-exact. Zero-variance
    families are excluded on both engines (no z is defined against a
    constant baseline)."""
    from ..operators.incremental import MERGE_CUTOFF

    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    ev = load(spark, sf_dir, "events")
    qv = F.col("value").cast("decimal(20,6)")
    base = (ev.where((F.col("ts") < cutoff)
                     & F.col("value").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(qv).cast("double").alias("s1"),
                 F.sum((qv * qv).cast("decimal(38,12)")).cast("double")
                 .alias("s2")))
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    stats = base.select(
        "event_type", mean.alias("mean"),
        F.sqrt(F.when(var < 0, 0).otherwise(var)).alias("sd"))
    stream = (read_events_stream(spark, sf_dir)
              .where((F.col("ts") >= cutoff)
                     & F.col("value").isNotNull()))
    az = F.abs((F.col("value") - F.col("mean")) / F.col("sd")) \
        .cast("decimal(18,6)")
    scored = (stream.join(F.broadcast(stats), "event_type")
              .where(F.col("sd") > 0)
              .select("ts", "event_type", az.alias("az")))
    daily = (scored.groupBy(F.window("ts", "1 day").alias("w"),
                            "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum(F.when(F.col("az").cast("double") > ANOM_Z, 1)
                        .otherwise(0)).alias("n_anomalies"),
                  F.max("az").alias("max_az"))
             .select(F.to_date(F.col("w.start")).alias("day"),
                     "event_type", "n_events", "n_anomalies", "max_az"))
    served = run_to_memory(daily, "stream_anomaly",
                           output_mode="complete",
                           final_no_data_batch=False)
    return served.select(
        "day", "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_anomalies").cast("bigint").alias("n_anomalies"),
        (F.col("n_anomalies").cast("double") / F.col("n_events"))
        .cast("decimal(18,6)").cast("double").alias("anomaly_rate"),
        F.col("max_az").cast("double").alias("max_abs_z"))


@query(
    "q_stream_ohlc",
    oracle="""
    WITH p AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             event_id, CAST(ts AS TIMESTAMP) AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT hour_start, value,
             ROW_NUMBER() OVER (PARTITION BY hour_start
                                ORDER BY pts, event_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY hour_start
                                ORDER BY pts DESC, event_id DESC) AS rl
      FROM p
    )
    SELECT hour_start,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume
    FROM r GROUP BY hour_start
    """,
    tags=("T17", "streaming", "ohlc"),
)
def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC CANDLESTICKS: hourly open/high/low/close/volume
    bars over the purchase-value stream — the market-data primitive
    every monitoring/trading surface draws, and the harness's exercise
    of ORDER-SENSITIVE streaming aggregation: high/low/volume are
    plain commutative aggregates, but open/close depend on event ORDER
    inside the window, which a distributed streaming agg cannot see —
    so they ride as MIN/MAX over (ts, event_id, value) STRUCTS, making
    'first' and 'last' total-order selections that commute across
    batches and partitions (the same tuple-tiebreak discipline as the
    attribution op, expressed declaratively instead of in state).

    availableNow ⇒ equals the batch plan; the oracle states it with
    rank windows. Watermarked tumbling window keeps state bounded to
    open hours; every aggregate is incremental — no event buffer, no
    per-key history, O(1) state per (hour) key."""
    ev = (read_events_stream(spark, sf_dir)
          .where(F.col("event_type") == "purchase")
          .withWatermark("ts", "1 hour"))
    agg = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("fst"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value")).alias("lst"),
            F.count(F.lit(1)).cast("bigint").alias("n_trades"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double")
            .alias("volume"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            F.col("fst.value").alias("open"),
            "high", "low",
            F.col("lst.value").alias("close"),
            "n_trades", "volume",
        )
    )
    return run_to_memory(agg, "stream_ohlc", final_no_data_batch=False)


@query(
    "q_stream_hourly_distinct",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("T18", "streaming", "distinct"),
)
def q_stream_hourly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING HOURLY DISTINCT PURCHASERS — exact COUNT(DISTINCT) in
    a stream, the aggregate Structured Streaming does NOT support
    directly (distinct inside a streaming agg throws): the standard
    decomposition is watermarked per-(window, user) DEDUP first (state
    = one row per distinct key per open hour, dropped at the
    watermark), then a plain incremental COUNT over the survivors —
    two state stores, each O(distinct keys in open windows), instead
    of an unbounded value buffer. The hourly-unique-actors number
    every ops dashboard draws, computed exactly; A4/A21 are the sketch
    relaxations when per-key state is too dear.

    availableNow ⇒ equals batch COUNT(DISTINCT), which is the oracle;
    the dedup keys on the event-time hour (derived BEFORE the dedup,
    so late events join their own hour, not arrival's). The dedup is
    dropDuplicatesWithinWatermark, NOT plain dropDuplicates: the keys
    (hour_start, user_id) carry no event-time metadata (date_trunc
    strips it), so plain dedup state would never be watermark-evicted
    and leak unboundedly in a real stream; the within-watermark form
    expires each key once the watermark passes its last-seen event
    time + delay, and is exact here because two same-hour events are
    <1 h apart — inside the 1 h delay — so every true duplicate is
    still caught (same recipe as q_stream_ingest_dedup below).

    The two chained state stores make this the most state-commit-bound
    job in the file. Like every stream it starts with one store per
    task slot, up to ``MAX_STATE_STORES`` (``_drain``): both operators
    commit every store in each micro-batch, so the store count, not the
    key count, sets that fixed cost."""
    ev = (read_events_stream(spark, sf_dir)
          .where(F.col("event_type") == "purchase")
          .withWatermark("ts", "1 hour"))
    deduped = (ev.withColumn("hour_start",
                             F.date_trunc("hour", F.col("ts")))
               .dropDuplicatesWithinWatermark(["hour_start", "user_id"]))
    agg = (deduped.groupBy(F.window("ts", "1 hour"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
           .select(F.col("window.start").alias("hour_start"), "n_users"))
    return run_to_memory(agg, "stream_hourly_distinct",
                         final_no_data_batch=False)


# ---- T19: streaming approximate distinct per window (T18's sketch twin) ----

HLL_RSD = 0.05       # approx_count_distinct relative standard deviation
HLL_TOL_PCT = 15     # relative gate term: 15% of exact (3 rsd)
HLL_TOL_ABS = 2      # additive slack: a single sparse-mode hash
                     # collision at n=4 is a 25% relative error
                     # (measured 3 hours of 673 at sf0.01) — tiny
                     # cardinalities need an absolute term, the
                     # standard sketch-gate shape |a-e| <= abs + rel*e


@query(
    "q_stream_hourly_distinct_approx",
    oracle=f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS approx_ok
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("T19", "streaming", "sketch-family", "hll"),
)
def q_stream_hourly_distinct_approx(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """STREAMING HOURLY DISTINCT PURCHASERS, SKETCH PATH — the
    relaxation T18's honest-exact cost note keeps pointing at: ONE
    watermarked windowed aggregate carrying an HLL++ sketch
    (approx_count_distinct, rsd {HLL_RSD}) instead of T18's two state
    stores — state is one fixed-size sketch per open window (KB,
    independent of key cardinality) versus one row per distinct key,
    which is the entire trade at 10⁹ keys/hour.

    Oracle-gated by the sketch convention (A4/A21 precedent): the
    output carries the EXACT count (batch-recomputed — HLL++ is
    hash-based and order/partition-insensitive, so the streamed sketch
    equals the batch sketch on the same rows) plus a deterministic
    tolerance boolean |approx − exact| ≤ {HLL_TOL_ABS} +
    {HLL_TOL_PCT}%·exact (relative = 3 rsd; the absolute term covers
    sparse-mode hash collisions at tiny per-window cardinalities);
    the oracle asserts TRUE. The boolean is never-NULL and exact > 0
    by construction (a window exists only if a row arrived), so the
    gate is ANSI-safe."""
    ev = (read_events_stream(spark, sf_dir)
          .where(F.col("event_type") == "purchase")
          .withWatermark("ts", "1 hour"))
    agg = (ev.groupBy(F.window("ts", "1 hour"))
           .agg(F.approx_count_distinct("user_id", HLL_RSD)
                .alias("n_approx"))
           .select(F.col("window.start").alias("hour_start"), "n_approx"))
    streamed = run_to_memory(agg, "stream_hourly_distinct_approx",
                             final_no_data_batch=False)
    exact = (load(spark, sf_dir, "events")
             .where(F.col("event_type") == "purchase")
             .groupBy(F.date_trunc("hour", F.col("ts"))
                      .alias("hour_start"))
             .agg(F.countDistinct("user_id").cast("bigint")
                  .alias("n_users")))
    err100 = 100 * F.abs(F.col("n_approx") - F.col("n_users"))
    bound = 100 * HLL_TOL_ABS + HLL_TOL_PCT * F.col("n_users")
    return (exact.join(streamed, "hour_start")
            .select("hour_start", "n_users",
                    (err100 <= bound).alias("approx_ok")))
