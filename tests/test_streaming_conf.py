"""Streaming queries keep their conf overrides to themselves.

``run_to_memory`` sizes state stores (``spark.sql.shuffle.partitions``)
and skips the trailing no-data micro-batch
(``spark.sql.streaming.noDataMicroBatches.enabled``) by setting session
conf. A streaming query captures the session conf when ``start()`` builds
it, so the overrides must be set only around ``start()``: while the query
runs, every other query in the session sees the session's own values.
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


def test_concurrent_streams_match_oracle(spark, sf_dir):
    # One query that overrides both confs beside one that overrides
    # neither, started together in one session: both equal the oracle.
    from tests.test_oracle_mirror import test_oracle_parity

    names = ("q_stream_hourly_distinct", "q_stream_stream_left")
    barrier = threading.Barrier(len(names))

    def check(name):
        barrier.wait()
        test_oracle_parity(name, spark, sf_dir)

    with ThreadPoolExecutor(len(names)) as pool:
        for fut in [pool.submit(check, n) for n in names]:
            fut.result()
