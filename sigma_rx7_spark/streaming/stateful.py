"""Custom stateful streaming (SURVEY.md §2.9 T6): per-key state via
``applyInPandasWithState``.

The batch form of the reference's overlap rule tracks open medication
intervals per patient (reference README.md:3,9,23); the streaming form
keeps per-key running state. Here: per-user running (count, max value,
latest ts) over the events stream — the state-machine scaffold an
open-interval tracker plugs into.

Scale: state is partitioned by key across executors and checkpointed;
the Pandas UDF sees one key-group per call with Arrow transfer. With a
watermark, state for quiet keys is reclaimed via timeouts.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from .jobs import read_events_stream, run_to_memory

STATE_SCHEMA = "count LONG, max_value DOUBLE"
OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("max_value", T.DoubleType()),
])


def _update(key, pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    count, max_value = state.get if state.exists else (0, float("-inf"))
    for pdf in pdfs:
        count += len(pdf)
        if len(pdf):
            max_value = max(max_value, float(pdf["value"].max()))
    state.update((count, max_value))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [count],
         "max_value": [max_value]})


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """Per-user running stats as an arbitrary-stateful operator."""
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    tags=("T6", "streaming"),
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming vs batch oracle: the harness events
    table arrives as ONE file ⇒ one availableNow micro-batch ⇒ the final
    per-user state equals the batch aggregate exactly (count and max are
    order-insensitive)."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(
        running_user_stats(ev), "stream_stateful", output_mode="update")


# ---- Streaming multi-touch attribution (T6 × W16) ------------------------

ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7 days in epoch micros

ATTR_STATE_SCHEMA = ("ts ARRAY<LONG>, ids ARRAY<LONG>, "
                     "ch ARRAY<STRING>")
ATTR_OUTPUT_SCHEMA = T.StructType([
    T.StructField("p_id", T.LongType()),
    T.StructField("channel", T.StringType()),
    T.StructField("touches_in_channel", T.IntegerType()),
    T.StructField("total_touches", T.IntegerType()),
    T.StructField("linear_credit", T.DoubleType()),
    T.StructField("is_first", T.BooleanType()),
    T.StructField("is_last", T.BooleanType()),
])


def _attr_update(key, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user attribution state machine: touches buffer into state;
    each purchase is attributed against the buffered lookback window
    the moment it arrives. Rows inside a batch are processed in
    (ts, event_id) order across ALL Arrow chunks (one key's batch may
    span several chunks in arbitrary order, so chunks concatenate
    before the single sort); the buffer is pruned to the lookback
    behind the newest event seen (valid under the same in-order
    assumption a watermark enforces for late data)."""
    if state.exists:
        ts_buf, id_buf, ch_buf = (list(v) for v in state.get)
    else:
        ts_buf, id_buf, ch_buf = [], [], []
    out = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # single-chunk keys (the common case) skip the concat copy
        pdf = chunks[0] if len(chunks) == 1 \
            else pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, eid, etype, value in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"],
                pdf["value"]):
            ts_us, eid = int(ts_us), int(eid)
            if etype in ("click", "view"):
                ts_buf.append(ts_us)
                id_buf.append(eid)
                ch_buf.append(etype)
                continue
            if etype != "purchase":  # signup/error: not a touch, not a
                continue             # conversion
            # purchase: credit the lookback window [ts-7d, ts)
            lo = ts_us - ATTR_LOOKBACK_US
            win = [(t, i, c) for t, i, c in zip(ts_buf, id_buf, ch_buf)
                   if lo <= t < ts_us]
            if not win:
                out.append((eid, "(direct)", 0, 0, float(value),
                            True, True))
                continue
            n = len(win)
            first_ch = min(win)[2]
            last_ch = max(win)[2]
            by_ch: dict[str, int] = {}
            for _, _, c in win:
                by_ch[c] = by_ch.get(c, 0) + 1
            for c, cnt in by_ch.items():
                out.append((eid, c, cnt, n, float(value) * cnt / n,
                            c == first_ch, c == last_ch))
    # prune: keep touches inside the lookback behind the newest event
    horizon = max(ts_buf, default=0) - ATTR_LOOKBACK_US
    keep = [(t, i, c) for t, i, c in zip(ts_buf, id_buf, ch_buf)
            if t >= horizon]
    state.update(([t for t, _, _ in keep], [i for _, i, _ in keep],
                  [c for _, _, c in keep]))
    if out:
        yield pd.DataFrame(
            out, columns=[f.name for f in ATTR_OUTPUT_SCHEMA.fields])


def streaming_attribution(events_stream: DataFrame) -> DataFrame:
    return (
        events_stream
        # pre-shuffle slimming: signup/error rows are neither touches
        # nor conversions — they must not reach the state store
        .where(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "user_id", "event_id", "event_type", "value",
            (F.unix_micros(F.col("ts"))).alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _attr_update,
            outputStructType=ATTR_OUTPUT_SCHEMA,
            stateStructType=ATTR_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query(
    "q_stream_attribution",
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
       AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
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
    tags=("T6", "W30s", "streaming", "attribution"),
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multi-touch attribution — the stateful twin of
    q_attribution_multitouch, oracle-gated against the SAME batch SQL
    (the lambda-architecture equivalence claim made checkable): per-user
    touch buffers live in partitioned state, every purchase is credited
    the moment it arrives from the buffered 7-day lookback, '(direct)'
    for touchless conversions. Python credit arithmetic is the
    identical IEEE multiply-then-divide the batch plan runs, so rows
    hash-match exactly.

    Caveats carried in code, not prose: first/last tiebreak = (ts, id)
    tuple order; the buffer prunes behind the newest event (the
    watermark-order assumption); equal-timestamp touches are excluded
    by the strict t_ts < p_ts bound regardless of batch order."""
    ev = read_events_stream(spark, sf_dir)
    return run_to_memory(
        streaming_attribution(ev), "stream_attr", output_mode="append")


# ---- Streaming Markov transition counts (T6 × W18) -----------------------

TRANS_STATE_SCHEMA = "last_type STRING, last_ts LONG, last_id LONG"
TRANS_OUTPUT_SCHEMA = T.StructType([
    T.StructField("from_type", T.StringType()),
    T.StructField("to_type", T.StringType()),
    T.StructField("n", T.LongType()),
])


def _trans_update(key, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user transition counter: state carries only the LAST event
    seen; each batch is processed in (ts, id) order across ALL Arrow
    chunks (concatenated before the single sort — one key's batch may
    span several chunks in arbitrary order) and every consecutive pair
    increments its (from, to) cell. Emits this batch's cell increments
    (append): the sink-side aggregate sums them — the same
    additive-state discipline as mv_fold."""
    if state.exists:
        last_type, last_ts, last_id = state.get
    else:
        last_type, last_ts, last_id = None, None, None
    counts: dict[tuple, int] = {}
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # single-chunk keys (the common case) skip the concat copy
        pdf = chunks[0] if len(chunks) == 1 \
            else pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, eid, etype in zip(pdf["ts_us"], pdf["event_id"],
                                     pdf["event_type"]):
            if last_type is not None:
                k2 = (last_type, etype)
                counts[k2] = counts.get(k2, 0) + 1
            last_type, last_ts, last_id = etype, int(ts_us), int(eid)
    state.update((last_type, last_ts, last_id))
    if counts:
        yield pd.DataFrame(
            [(a, b, n) for (a, b), n in counts.items()],
            columns=["from_type", "to_type", "n"])


@query(
    "q_stream_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
               AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("T6", "W18", "streaming", "markov"),
)
def q_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Markov transition counts — the stateful twin of
    q_event_transitions, gated against the same batch SQL: per-user
    state is ONE row (the last event seen), each batch emits its
    (from, to) cell increments, and the sink aggregate folds them
    additively — so the count matrix converges identically however the
    stream is batch-chopped (state carries the cross-batch pair; the
    in-batch pairs are order-resolved locally). State size: one tuple
    per user, no history — the O(1)-per-key posture that runs forever
    at ingest scale."""
    ev = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"))
    inc = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _trans_update,
            outputStructType=TRANS_OUTPUT_SCHEMA,
            stateStructType=TRANS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(inc, "stream_transitions", output_mode="append")
    return (out.groupBy("from_type", "to_type")
            .agg(F.sum("n").cast("bigint").alias("n")))


# ---- Streaming sequence-integrity audit (T6 × Q7) ------------------------

SEQ_STATE_SCHEMA = "n LONG, id_min LONG, id_max LONG"
SEQ_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_ids", T.LongType()),
    T.StructField("id_min", T.LongType()),
    T.StructField("id_max", T.LongType()),
    T.StructField("n_gaps", T.LongType()),
])


def _seq_update(key, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, lo, hi = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            bmin, bmax = int(pdf["event_id"].min()), \
                int(pdf["event_id"].max())
            lo = bmin if lo is None else min(lo, bmin)
            hi = bmax if hi is None else max(hi, bmax)
    state.update((n, lo, hi))
    if n:
        yield pd.DataFrame(
            {"user_id": [user_id], "n_ids": [n], "id_min": [lo],
             "id_max": [hi], "n_gaps": [hi - lo + 1 - n]})


@query(
    "q_stream_sequence",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(MIN(event_id) AS BIGINT) AS id_min,
           CAST(MAX(event_id) AS BIGINT) AS id_max,
           CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(*) AS BIGINT)
             AS n_gaps
    FROM events
    GROUP BY user_id
    """,
    tags=("T6", "quality", "streaming", "sequence"),
)
def q_stream_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sequence-integrity audit — Q7's gap detection as a
    live per-producer monitor with O(1) state (count, min, max): gaps
    = id-range width minus arrivals, valid because producer ids are
    unique (the duplicate branch needs the batch form's set — state
    here stays three longs per key forever). Update-mode emissions
    give the CURRENT gap count after every batch; the final state is
    batch-equivalent, which is what the oracle gates."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_id")
    out = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _seq_update,
            outputStructType=SEQ_OUTPUT_SCHEMA,
            stateStructType=SEQ_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "stream_sequence", output_mode="update")


# ---- Streaming ordered conversion funnel (T6 × W11) -----------------------

FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # 24 h step window, microseconds

FUNNEL_STATE_SCHEMA = "t1 LONG, t2 LONG, t3 LONG"
FUNNEL_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("stage", T.IntegerType()),
])


def _funnel_update(key, pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Per-user funnel state machine: three timestamps, each set at
    most once — first view, first qualifying click (inside 24 h after
    the view), first qualifying purchase (inside 24 h after that
    click). Events are replayed in (ts, id) order across the WHOLE
    batch: one key's rows can be split over several Arrow chunks in
    arbitrary order, so every chunk is concatenated BEFORE the single
    sort — sorting chunk-by-chunk would replay an early view that
    landed in a later chunk out of order and diverge the stage machine
    from the batch oracle. Cross-batch order rides on the source's
    append order (the same watermark-order assumption
    q_stream_transitions carries)."""
    (user_id,) = key
    t1, t2, t3 = state.get if state.exists else (None, None, None)
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        # single-chunk keys (the common case) skip the concat copy
        pdf = chunks[0] if len(chunks) == 1 \
            else pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts_us, etype in zip(pdf["ts_us"], pdf["event_type"]):
            ts_us = int(ts_us)
            if etype == "view":
                if t1 is None:
                    t1 = ts_us
            elif etype == "click":
                if t1 is not None and t2 is None \
                        and t1 < ts_us <= t1 + FUNNEL_WINDOW_US:
                    t2 = ts_us
            elif etype == "purchase":
                if t2 is not None and t3 is None \
                        and t2 < ts_us <= t2 + FUNNEL_WINDOW_US:
                    t3 = ts_us
    state.update((t1, t2, t3))
    if t1 is not None:
        stage = 3 if t3 is not None else (2 if t2 is not None else 1)
        yield pd.DataFrame({"user_id": [user_id], "stage": [stage]})


@query(
    "q_stream_funnel",
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
    tags=("T16", "streaming", "funnel"),
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ordered conversion funnel — the stateful twin of
    q_funnel_steps, oracle-gated against the SAME batch SQL (the
    lambda-architecture equivalence the streaming family keeps making
    checkable): per-user state is THREE microsecond timestamps (first
    view, first 24-h-qualifying click, first 24-h-qualifying
    purchase), each written at most once, so the per-key state is O(1)
    forever — the funnel never buffers history the way the
    attribution op must. Each batch emits the user's current deepest
    stage; stage is monotone non-decreasing by construction, so the
    sink folds with MAX(stage) per user and the stage census follows.

    Semantics carried in code: strict '>' lower bounds exclude
    same-microsecond step pairs exactly like the batch SQL; a click
    before any view is ignored because replay order is (ts, id) — the
    first view seen IS the min-ts view under the source's append-order
    assumption (same caveat as q_stream_transitions)."""
    ev = (read_events_stream(spark, sf_dir)
          # pre-shuffle slimming (r15, the streaming_attribution
          # discipline + guide §4.1): signup/error rows can never move
          # the three-stage machine, yet they were shuffled into state
          # partitions and iterated row-by-row in Python — 40% of the
          # feed. Filtering before the stateful exchange keeps them out
          # of the Python boundary AND out of the state store; users
          # with no funnel events emitted nothing before and now simply
          # never reach the operator (output identical, gate-proven).
          # Interleaved A/B at sf0.1: wall-FLAT (1.43 vs 1.40 s warm
          # min — availableNow replay machinery dominates at this
          # scale); the win is the 40% state/boundary volume, which is
          # what matters at production event rates.
          .where(F.col("event_type").isin("view", "click", "purchase"))
          .select(
              "user_id", "event_id", "event_type",
              F.unix_micros(F.col("ts")).alias("ts_us")))
    upd = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _funnel_update,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(upd, "stream_funnel", output_mode="append")
    per_user = out.groupBy("user_id").agg(
        F.max("stage").alias("stage_reached"))
    return (per_user.groupBy("stage_reached")
            .agg(F.count(F.lit(1)).alias("n_users")))
