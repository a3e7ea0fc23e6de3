"""Streaming incremental MERGE: batch equivalence + batch-boundary
independence.

The foreachBatch upsert must (a) reproduce the one-shot batch MERGE when
the stream drains in a single batch (that equality is also the query's
DuckDB oracle), and (b) converge to the same VALUES regardless of how
the change stream is chopped into micro-batches — the property that
makes a crash/resume or a different trigger cadence harmless at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sigma_rx7_spark.io import load
from sigma_rx7_spark.operators.incremental import (
    MERGE_CUTOFF,
    latest_per_key,
    merge_at_cutoff,
)
from sigma_rx7_spark.registry import load_all
from sigma_rx7_spark.streaming.jobs import merge_batch_into_state

KEYS = ["user_id", "event_type"]


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_stream_merge_equals_batch_merge(spark, sf_dir):
    streamed = load_all()["q_stream_merge"].fn(spark, sf_dir)
    batch = load_all()["q_merge_upsert"].fn(spark, sf_dir)
    cols = ["user_id", "event_type", "event_id", "value", "src"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def _batch_convergence(spark, sf_dir, reverse):
    # Drive the REAL per-batch merge function with the change stream
    # chopped at the median ts; the final state must equal the one-shot
    # MERGE regardless of the order the batches arrive in.
    ev = load(spark, sf_dir, "events").select(*KEYS, "event_id", "value",
                                              "ts")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    base = latest_per_key(
        ev.where(F.col("ts") < cutoff), KEYS, "ts", "event_id").drop("ts")
    changes = ev.where(F.col("ts") >= cutoff)
    split = changes.agg(
        F.percentile_approx("ts", 0.5, 10000).alias("m")).first()["m"]

    parts = [
        changes.where(F.col("ts") <= F.lit(split)),
        changes.where(F.col("ts") > F.lit(split)),
    ]
    if reverse:
        parts.reverse()

    value_cols = ["event_id", "value"]
    state = (base.withColumn("src", F.lit("base"))
             .withColumn("_ord", F.lit(None).cast("timestamp")))
    for part in parts:
        state = merge_batch_into_state(
            state, part, KEYS, "ts", "event_id", value_cols
        ).localCheckpoint(eager=True)

    oneshot = merge_at_cutoff(ev, KEYS, "ts", "event_id", cutoff)
    cols = ["user_id", "event_type", "event_id", "value", "src"]
    assert _rows(state, cols) == _rows(oneshot, cols)


def test_two_batch_split_converges_to_latest_per_key(spark, sf_dir):
    _batch_convergence(spark, sf_dir, reverse=False)


def test_out_of_order_batches_converge(spark, sf_dir):
    # The later-ts half arrives FIRST; event-time preference in the
    # state (_ord) must still yield the one-shot MERGE result — the
    # property the pre-round-3 implementation lacked (last batch won
    # regardless of event time).
    _batch_convergence(spark, sf_dir, reverse=True)


def test_cdc_tombstone_survives_out_of_order_batches(spark, sf_dir):
    """A D tombstone with a NEWER event time must keep its key deleted
    even when an OLDER U for the same key arrives in a LATER batch —
    the retained-tombstone property q_stream_cdc_apply's read-out
    filter depends on. Driven directly through merge_batch_into_state
    with synthetic two-row batches in both arrival orders."""
    value_cols = ["event_id", "value", "op"]

    def mkdf(rows):
        return spark.createDataFrame(
            rows,
            "user_id bigint, event_type string, event_id bigint, "
            "value double, op string, ts timestamp")

    base = mkdf([]).drop("ts").withColumn("src", F.lit("base")) \
        .withColumn("_ord", F.lit(None).cast("timestamp"))
    import datetime as dt
    t1 = dt.datetime(2024, 1, 20, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 20, 12, 0, 0)
    older_u = mkdf([(1, "view", 100, 1.0, "U", t1)])
    newer_d = mkdf([(1, "view", 101, 2.0, "D", t2)])

    for parts in ([older_u, newer_d], [newer_d, older_u]):
        state = base
        for bdf in parts:
            state = merge_batch_into_state(
                state, bdf, KEYS, "ts", "event_id", value_cols)
        live = state.where(
            F.col("op").isNull() | (F.col("op") != "D")).collect()
        # the tombstone wins on event time in BOTH arrival orders
        assert live == [], [tuple(r) for r in live]
        retained = state.collect()
        assert len(retained) == 1 and retained[0]["op"] == "D"


def test_ingest_dedup_is_batch_chop_invariant(spark, sf_dir):
    # Fold the documents in two adversarial choppings (by id parity,
    # reversed halves) through the module-level state fold; both must
    # converge to the one-shot report — the associative+commutative
    # fold is what the docstring promises.
    from pyspark.sql import functions as F

    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.streaming.jobs import (
        fold_digest_state,
        ingest_dedup_report,
        q_stream_ingest_dedup,
    )

    d = load(spark, sf_dir, "documents")
    empty = spark.createDataFrame(
        [], "dig string, source string, n_docs bigint, "
            "mindoc struct<doc_id: bigint, n_chars: bigint>")

    def run(chops):
        st = empty
        for c in chops:
            st = fold_digest_state(st, c).localCheckpoint(eager=True)
        return sorted(map(tuple, ingest_dedup_report(st).collect()))

    oneshot = sorted(map(tuple,
                         q_stream_ingest_dedup(spark, sf_dir).collect()))
    parity = run([d.where(F.col("doc_id") % 2 == 1),
                  d.where(F.col("doc_id") % 2 == 0)])
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    reversed_halves = run([d.where(F.col("doc_id") > mid),
                           d.where(F.col("doc_id") <= mid)])
    assert parity == oneshot
    assert reversed_halves == oneshot


def test_mv_fold_is_batch_order_independent(spark, sf_dir):
    """A28 live: folding the event stream into the MV in two different
    batch orders converges to the identical MV (state addition is
    commutative+associative with exact-decimal sums)."""
    from pyspark.sql import functions as F

    from sigma_rx7_spark.compat import q as qd
    from sigma_rx7_spark.io import load
    from sigma_rx7_spark.streaming.jobs import mv_fold

    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"), "event_type", "value",
        F.pmod(F.col("event_id"), F.lit(2)).alias("half"))

    def states(half):
        return (ev.where(F.col("half") == half)
                .groupBy("day", "event_type")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                     F.sum(qd("value")).cast("decimal(28,6)")
                     .alias("sum_value_dec")))

    empty = spark.createDataFrame(
        [], "day timestamp, event_type string, n_events bigint, "
            "sum_value_dec decimal(28,6)")
    ab = mv_fold(mv_fold(empty, states(0)), states(1))
    ba = mv_fold(mv_fold(empty, states(1)), states(0))
    assert sorted(map(tuple, ab.collect())) \
        == sorted(map(tuple, ba.collect()))
