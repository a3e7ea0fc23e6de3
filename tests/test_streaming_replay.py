"""Two-chunk replay tests for the WINDOWED streaming aggregates
(VERDICT r13 item 4). The stateful family (merge/cdc/dedup/funnel/
attribution/transitions) already has chunk-order and chop-invariance
tests; the windowed-agg jobs were proven only under single-batch
availableNow — which exercises zero cross-batch state. Here each job
drains the same rows as TWO micro-batches (two drop files + the
``maxFilesPerTrigger`` deployment seam), with the chunk boundary placed
so that (a) an open hour window receives rows in BOTH batches (state
re-open), (b) batch 2 contains rows EARLIER than batch 1's max ts but
inside the watermark (late-but-allowed arrival), and (c) a duplicate
key spans the boundary (dedup state survives the batch hop). The
expected value is the job's OWN registered oracle run by DuckDB over
the identical chunk files — the exact equality the external gate
enforces, now proven under multi-batch execution too (the r13
q_stream_hourly_distinct state-sizing fix showed this family can hide
state bugs behind the single-batch drain)."""
from __future__ import annotations

import os

import duckdb
import pytest

from sigma_rx7_spark.registry import load_all
from sigma_rx7_spark.streaming.jobs import STREAM_MAX_FILES_CONF

_SCHEMA = ("event_id long, user_id long, event_type string, "
           "value double, props string, ts_s string")

# rows spanning three hour windows; ordering notes mark the replay
# hazards each chunk boundary creates
_CHUNK_A = [
    (1, 1, "view", 1.0, "{}", "2024-01-01 10:05:00"),
    (2, 2, "view", 2.0, "{}", "2024-01-01 10:15:00"),
    (3, 1, "purchase", 5.0, "{}", "2024-01-01 10:45:00"),
    (4, 3, "view", 1.5, "{}", "2024-01-01 11:05:00"),
    (5, 2, "purchase", 7.0, "{}", "2024-01-01 11:20:00"),  # max ts of A
]
_CHUNK_B = [
    # LATE vs batch A's max (11:20) but above the 1 h watermark (10:20):
    # re-opens the 11:00 and 10:00 windows a whole batch later
    (6, 1, "view", 2.5, "{}", "2024-01-01 11:10:00"),
    (7, 1, "view", 1.0, "{}", "2024-01-01 10:55:00"),
    # same-hour duplicate purchaser ACROSS the boundary (user 2 also
    # purchased at 11:20 in chunk A) — dedup state must survive
    (10, 2, "purchase", 1.0, "{}", "2024-01-01 11:40:00"),
    (8, 4, "purchase", 9.0, "{}", "2024-01-01 12:30:00"),
    (9, 1, "purchase", 3.0, "{}", "2024-01-01 12:40:00"),
    # sixth row: the chunks MUST have different sizes or the
    # batch-order guard below is vacuous (5 == 5 under any ordering)
    (11, 3, "view", 4.0, "{}", "2024-01-01 12:45:00"),
]


@pytest.fixture()
def chunked_dir(spark, tmp_path):
    """A stream directory holding the rows as TWO drop files with
    strictly increasing mtimes (the file source orders by timestamp),
    plus the conf seam forcing one file per micro-batch."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    for i, rows in enumerate((_CHUNK_A, _CHUNK_B)):
        df = (spark.createDataFrame(rows, _SCHEMA)
              .select("event_id", "user_id", "event_type", "value",
                      "props", F.col("ts_s").cast("timestamp").alias("ts")))
        stage = str(tmp_path / f"_stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = str(tmp_path / f"events_{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 3600, 1700000000 + i * 3600))
    spark.conf.set(STREAM_MAX_FILES_CONF, "1")
    try:
        yield str(tmp_path)
    finally:
        spark.conf.unset(STREAM_MAX_FILES_CONF)


def _oracle_rows(spec, stream_dir: str):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{stream_dir}/events_*.parquet')")
    try:
        return sorted(tuple(r) for r in
                      con.execute(spec.oracle_for(stream_dir)).fetchall())
    finally:
        con.close()


def _spark_rows(spec, spark, stream_dir: str):
    df = spec.fn(spark, stream_dir)
    cols = df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _canon(v):
    # the one driver-forgiven type split (verify-skill lesson, r5):
    # a DATE on one engine vs the same day at midnight on the other
    import datetime as dt
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime(v.year, v.month, v.day)
    return v


def _assert_equal(got, want, name):
    assert len(got) == len(want), (name, len(got), len(want), got, want)
    for g, w in zip(got, want):
        assert len(g) == len(w), (name, g, w)
        for x, y in zip(g, w):
            x, y = _canon(x), _canon(y)
            if isinstance(x, float) or isinstance(y, float):
                assert x == pytest.approx(y, abs=1e-9), (name, g, w)
            else:
                assert x == y, (name, g, w)


@pytest.mark.parametrize("name", [
    "q_stream_hourly_counts",
    "q_stream_sliding_counts",
    "q_stream_ohlc",
    "q_stream_topk",
    "q_stream_hourly_distinct",
    "q_stream_hourly_distinct_approx",
    # session windows: chunk B's 10:55/11:10 rows EXTEND the 10:45
    # session opened in batch 1 (a state-store session merge), while
    # 10:05 stays its own island — the T4 cross-batch case
    "q_stream_sessions",
    # dedup: (user 1, 'view') appears in BOTH chunks; the first-seen
    # state must survive the batch hop so append mode emits it once
    "q_stream_dedup",
    # fold_stream: the MV state folds across two real batches
    "q_stream_mv_refresh",
    # fold_stream: every chunk row lies before MERGE_CUTOFF, so both
    # batches are empty after the change filter and each fold must be
    # the identity on them
    "q_stream_merge",
    "q_stream_cdc_apply",
])
def test_windowed_stream_equals_batch_oracle_over_two_chunks(
        spark, chunked_dir, name):
    spec = load_all()[name]
    got = _spark_rows(spec, spark, chunked_dir)
    want = _oracle_rows(spec, chunked_dir)
    _assert_equal(got, want, name)


def test_two_chunks_actually_ran_as_two_batches(spark, chunked_dir):
    """Guard the harness itself: with the conf seam set, availableNow
    must split the two drop files into two micro-batches — otherwise
    every test above silently degrades to the single-batch drain it
    was built to go beyond."""
    from sigma_rx7_spark.streaming.jobs import read_events_stream

    batches = []
    q = (read_events_stream(spark, chunked_dir)
         .writeStream.outputMode("append")
         .foreachBatch(lambda bdf, i: batches.append((i, bdf.count())))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    assert len(batches) == 2, batches
    assert sorted(n for _, n in batches) == [len(_CHUNK_A), len(_CHUNK_B)]
    # and the file order followed mtime: batch 0 is chunk A
    assert batches[0][1] == len(_CHUNK_A), batches
