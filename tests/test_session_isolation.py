"""Queries keep the session as they found it.

Every stream starts with one shuffle partition, and so one state store
per stateful operator, per task slot (``defaultParallelism``), up to
``MAX_STATE_STORES``: a micro-batch commits every store, so each store
adds a fixed cost. ``streaming.jobs._drain`` sets that count, and
its checkpoint file manager (``FS_CHECKPOINT_MANAGER``, whose rename
forks no ``readlink``), and ``run_to_memory``'s skip of the trailing
no-data micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``),
as session conf.
A streaming query captures the session conf when ``start()`` builds
it, so the overrides are set only around ``start()``: while the query
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

A memoized plan is bound to the session that built it, so a query built
on another session gets a plan of its own (``io.memo`` is per session).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.streaming.query import StreamingQuery

from sigma_rx7_spark import io
from sigma_rx7_spark.registry import load_all
from sigma_rx7_spark.streaming.jobs import (CHECKPOINT_MANAGER_CONF,
                                             FS_CHECKPOINT_MANAGER,
                                             MAX_STATE_STORES)

ALL = load_all()
_KEYS = ("spark.sql.shuffle.partitions",
         "spark.sql.streaming.noDataMicroBatches.enabled",
         CHECKPOINT_MANAGER_CONF)


# Stateful streams and the fewest state-operator reports each makes.
_STATE_OPS = {
    # dedup + count over a watermark, no trailing no-data batch
    "q_stream_hourly_distinct": 2,
    # one dedup store
    "q_stream_dedup": 1,
    # applyInPandasWithState
    "q_stream_stateful": 1,
    # stream-stream left join
    "q_stream_stream_left": 1,
}


@pytest.mark.parametrize("query", list(_STATE_OPS))
def test_stream_overrides_scoped_to_start(spark, sf_dir, monkeypatch,
                                          query):
    # While the stream runs and after it, the session shows its own
    # values; every state operator still has one store per task slot,
    # up to the cap, and the session the stream cloned at start() holds
    # the FileSystem-based checkpoint manager. The session's own
    # partition count is set above the slot count for the run, so a
    # leaked session value cannot pass for the rule.
    slots = spark.sparkContext.defaultParallelism
    session_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots + 1))
    try:
        own = {k: spark.conf.get(k, None) for k in _KEYS}
        seen, managers, progress = [], [], []
        await_termination = StreamingQuery.awaitTermination

        def spy(self, *args, **kwargs):
            seen.append({k: spark.conf.get(k, None) for k in _KEYS})
            cloned = self._jsq.streamingQuery().sparkSessionForStream()
            managers.append(cloned.conf().get(CHECKPOINT_MANAGER_CONF, None))
            out = await_termination(self, *args, **kwargs)
            progress.extend(self.recentProgress)
            return out

        monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
        ALL[query].fn(spark, sf_dir).collect()
        assert seen == [own]
        assert managers == [FS_CHECKPOINT_MANAGER]
        assert {k: spark.conf.get(k, None) for k in _KEYS} == own
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_parts)
    stores = [op.numShufflePartitions
              for p in progress for op in p.stateOperators]
    assert len(stores) >= _STATE_OPS[query]
    assert set(stores) == {min(slots, MAX_STATE_STORES)}


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
    # only the partition count, started together in one session: both
    # equal the oracle.
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


@pytest.mark.parametrize("query", [
    "q_domain_recommendations", "q_domain_fhir_export", "q_sim_topk_ivfpq",
    "q_sim_topk_ivf_staged", "q_scan_zorder", "q_tpch_q02",
    "q_mv_rollup_answer",
])
def test_memoized_reads_follow_the_session(spark, sf_dir, query):
    fn = ALL[query].fn
    assert fn(spark, sf_dir).sparkSession is spark
    s2 = spark.newSession()
    assert fn(s2, sf_dir).sparkSession is s2
    assert fn(spark, sf_dir).sparkSession is spark
