"""Queries keep the session as they found it.

``run_to_memory`` sizes state stores (``spark.sql.shuffle.partitions``)
and skips the trailing no-data micro-batch
(``spark.sql.streaming.noDataMicroBatches.enabled``) by setting session
conf. A streaming query captures the session conf when ``start()`` builds
it, so the overrides must be set only around ``start()``: while the query
runs, every other query in the session sees the session's own values.

Its memory sink gets a fresh name per run and its temp view is dropped
once read, so a user's view is never replaced and one query can run on
two threads of one session at once.

A SQL text binds its relations as ``spark.sql`` DataFrame arguments
(``io.sql`` for the texts shared with the oracle): each is registered
under a fresh ``_pyspark_<uuid>`` name that is dropped before the call
returns. So a SQL query creates no temp view and sets no conf, a user's
view named like a harness table is never read, and one text runs at
two scales on two threads at once.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.streaming.query import StreamingQuery

from sigma_rx7_spark import io
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


def _run_together(spark, runs):
    """Check each (query name, sf_dir) pair against its oracle, all
    started at once on one thread each."""
    from tests.test_oracle_mirror import test_oracle_parity

    barrier = threading.Barrier(len(runs))

    def check(name, sf):
        barrier.wait()
        test_oracle_parity(name, spark, sf)

    with ThreadPoolExecutor(len(runs)) as pool:
        for fut in [pool.submit(check, *r) for r in runs]:
            fut.result()


def test_concurrent_streams_match_oracle(spark, sf_dir):
    # One query that overrides both confs beside one that overrides
    # neither, started together in one session: both equal the oracle.
    _run_together(spark, [("q_stream_hourly_distinct", sf_dir),
                          ("q_stream_stream_left", sf_dir)])


def test_same_stream_on_two_threads_matches_oracle(spark, sf_dir):
    _run_together(spark, [("q_stream_hourly_counts", sf_dir)] * 2)


def test_sql_texts_at_two_scales_match_oracle(spark, sf_dir):
    # The same text bound at two scales on four threads: no run may
    # read the other scale's tables. sf0.01 sits beside the test scale.
    other = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    _run_together(spark, [(n, sf)
                          for n in ("q_subquery_exists", "q_tpch_q05")
                          for sf in (sf_dir, other)])


@pytest.mark.parametrize("query, name", [
    # q_stream_hourly_counts passes this name to run_to_memory.
    ("q_stream_hourly_counts", "stream_hourly_counts"),
    # q_subquery_exists's text reads the harness table of this name.
    ("q_subquery_exists", "orders"),
])
def test_memory_sink_leaves_user_view_alone(spark, sf_dir, query, name):
    from tests.test_oracle_mirror import test_oracle_parity

    spark.range(3).createOrReplaceTempView(name)
    try:
        test_oracle_parity(query, spark, sf_dir)
        assert sorted(r.id for r in spark.table(name).collect()) == [0, 1, 2]
        assert [t.name for t in spark.catalog.listTables()
                if t.name.startswith(name)] == [name]
    finally:
        spark.catalog.dropTempView(name)
    test_oracle_parity(query, spark, sf_dir)


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("query", [
    "q_subquery_scalar", "q_subquery_exists", "q_agg_grouping_sets",
    "q_join_lateral_topk", "q_graph_reachability", "q_graph_sssp",
    "q_udf_sql", "q_rollup_timegrain", "q_udtf_sentences",
    "q_sql_scripting", "q_domain_hl7_udtf", "q_sink_backfill",
    "q_tpch_q01", "q_tpch_q02", "q_tpch_q05",
])
def test_sql_query_leaves_session_as_found(spark, sf_dir, query):
    from tests.test_oracle_mirror import test_oracle_parity

    views, conf = _temp_views(spark), spark.conf.getAll
    test_oracle_parity(query, spark, sf_dir)
    assert _temp_views(spark) == views
    assert spark.conf.getAll == conf


def test_sql_escapes_braces_in_literals(spark, sf_dir):
    row = io.sql(spark, sf_dir,
                 "SELECT '{x}' AS s, COUNT(*) AS n FROM region").collect()
    assert [tuple(r) for r in row] == [("{x}", 5)]
