"""Streaming queries keep their conf overrides and sink names to
themselves.

``run_to_memory`` sizes state stores (``spark.sql.shuffle.partitions``)
and skips the trailing no-data micro-batch
(``spark.sql.streaming.noDataMicroBatches.enabled``) by setting session
conf. A streaming query captures the session conf when ``start()`` builds
it, so the overrides must be set only around ``start()``: while the query
runs, every other query in the session sees the session's own values.

Its memory sink gets a fresh name per run and its temp view is dropped
once read, so a user's view is never replaced and one query can run on
two threads of one session at once.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql.streaming.query import StreamingQuery

from sigma_rx7_spark.registry import load_all
from sigma_rx7_spark.streaming.jobs import STREAM_STATE_PARTITIONS

ALL = load_all()
_KEYS = ("spark.sql.shuffle.partitions",
         "spark.sql.streaming.noDataMicroBatches.enabled")


def test_stream_overrides_scoped_to_start(spark, sf_dir, monkeypatch):
    # q_stream_hourly_distinct sets both confs. While it runs, the
    # session must show its own values; its state stores must still be
    # sized by the override it started with.
    own = {k: spark.conf.get(k, None) for k in _KEYS}
    assert own["spark.sql.shuffle.partitions"] != str(
        STREAM_STATE_PARTITIONS)
    seen, progress = [], []
    await_termination = StreamingQuery.awaitTermination

    def spy(self, *args, **kwargs):
        seen.append({k: spark.conf.get(k, None) for k in _KEYS})
        out = await_termination(self, *args, **kwargs)
        progress.extend(self.recentProgress)
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    ALL["q_stream_hourly_distinct"].fn(spark, sf_dir).collect()
    assert seen == [own]
    assert {k: spark.conf.get(k, None) for k in _KEYS} == own
    stores = [op.numShufflePartitions
              for p in progress for op in p.stateOperators]
    assert len(stores) >= 2  # dedup + count, at least one batch
    assert set(stores) == {STREAM_STATE_PARTITIONS}


def _run_together(spark, sf_dir, names):
    from tests.test_oracle_mirror import test_oracle_parity

    barrier = threading.Barrier(len(names))

    def check(name):
        barrier.wait()
        test_oracle_parity(name, spark, sf_dir)

    with ThreadPoolExecutor(len(names)) as pool:
        for fut in [pool.submit(check, n) for n in names]:
            fut.result()


def test_concurrent_streams_match_oracle(spark, sf_dir):
    # One query that overrides both confs beside one that overrides
    # neither, started together in one session: both equal the oracle.
    _run_together(spark, sf_dir,
                  ("q_stream_hourly_distinct", "q_stream_stream_left"))


def test_same_stream_on_two_threads_matches_oracle(spark, sf_dir):
    _run_together(spark, sf_dir,
                  ("q_stream_hourly_counts", "q_stream_hourly_counts"))


def test_memory_sink_leaves_user_view_alone(spark, sf_dir):
    # q_stream_hourly_counts passes this name to run_to_memory.
    name = "stream_hourly_counts"
    spark.range(3).createOrReplaceTempView(name)
    try:
        assert ALL["q_stream_hourly_counts"].fn(spark, sf_dir).count() > 0
        assert sorted(r.id for r in spark.table(name).collect()) == [0, 1, 2]
        assert [t.name for t in spark.catalog.listTables()
                if t.name.startswith(name)] == [name]
    finally:
        spark.catalog.dropTempView(name)
