"""Unit and source of the per-layer metrics the benchmark reports."""

from __future__ import annotations

import re

import pytest

from tracing import (MB, PY_INIT, STREAMING_KEYS, cache_usage,
                     parse_metric, plan_phases_ms, streaming_totals)


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


@pytest.mark.parametrize("text, value", [
    ("432 ms", 0.432),
    ("3.7 s", 3.7),
    ("1.5 m", 90.0),
    ("1.00 h", 3600.0),
    ("1885.0 B", 1885.0),
    ("24.9 KiB", 24.9 * 1024),
    ("2.0 MiB", 2.0 * MB),
    ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n"
     "3.7 s (725 ms, 988 ms, 995 ms (stage 14.0: task 15))", 3.7),
    ("total (min, med, max (stageId: taskId))\n"
     "2.4 KiB (67.0 B, 79.0 B, 79.0 B (stage 33.0: task 276))", 2.4 * 1024),
])
def test_parse_metric_returns_base_units(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_what_it_cannot_read():
    with pytest.raises(ValueError):
        parse_metric("(min, med, max (stageId: taskId)):\n"
                     "(1, 1, 1 (stage 39.0: task 397))")
    with pytest.raises(ValueError):
        parse_metric("3 fortnights")


def test_sql_store_keeps_metric_values_as_text(spark, tracer, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(50_000).selectExpr("id", "id % 7 AS k").write.parquet(path)
    tracer.skip()
    _noop(spark.read.parquet(path).groupBy("k").count())
    tracer.drain()
    last = tracer._next_exec
    while not tracer._sql.execution(last + 1).isEmpty():
        last += 1
    values = tracer._sql.executionMetrics(last).values().toList()
    texts = [values.apply(i) for i in range(values.size())]
    assert texts and all(isinstance(t, str) for t in texts)
    assert any(re.search(r"\d (ms|s|B|KiB)\b", t) for t in texts)
    sql = tracer.sql_metrics()
    assert 0 <= sql["io.scan_s"] < 60


def test_reads_complete_executions_after_draining(spark, tracer):
    _noop(spark.range(100_000).selectExpr("sum(id)"))
    tracer.sql_metrics()          # drains the listener bus first
    ex = tracer._sql.execution(tracer._next_exec - 1).get()
    assert ex.completionTime().isDefined()


def test_python_init_is_a_timing_in_seconds(spark, tracer):
    rows = 20_000
    df = spark.range(rows, numPartitions=4).mapInArrow(
        lambda batches: batches, "id long")
    _noop(df)
    tracer.drain()
    exec_id = tracer._next_exec
    sql = tracer.sql_metrics()
    kinds = set()
    for e in range(exec_id, tracer._next_exec):
        nodes = tracer._sql.planGraph(e).allNodes().iterator()
        while nodes.hasNext():
            it = nodes.next().metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() == PY_INIT:
                    kinds.add(m.metricType())
    # A timing metric shown in ms/s, summed over tasks: seconds after
    # parsing, never a raw count of milliseconds or nanoseconds.
    assert kinds == {"timing"}
    assert 0 < sql["python.init"] < 120
    assert 0 < sql["python.time_s"] < 120
    assert sql["python.rows"] == rows
    assert sql["python.sent_mb"] > 0 and sql["python.received_mb"] > 0


def test_stage_figures_are_seconds_and_mib(spark, tracer):
    df = spark.range(200_000, numPartitions=4).selectExpr(
        "id % 100 AS k", "id AS v").groupBy("k").sum("v")
    _noop(df)
    jobs, st = tracer.jobs(), tracer.stages()
    assert jobs >= 1
    assert st["operators.stages"] >= 1
    assert st["operators.tasks"] >= st["operators.stages"]
    assert st["operators.failed_tasks"] == 0
    assert 0 < st["operators.run_s"] < 60
    assert 0 < st["operators.cpu_s"] <= st["operators.run_s"] * 1.5 + 0.05
    assert 0 < st["operators.shuffle_mb"] < 10


def test_plan_phases_are_milliseconds(spark):
    df = spark.range(10).selectExpr("id * 2 AS x").where("x > 3")
    phases = plan_phases_ms(df)
    assert set(phases) == {"plans.analysis_ms", "plans.optimization_ms",
                           "plans.planning_ms"}
    assert all(0 <= v < 60_000 for v in phases.values())
    assert phases["plans.optimization_ms"] + phases["plans.planning_ms"] > 0


def test_stream_thread_jobs_and_progress_are_counted(spark, tracer,
                                                     tmp_path):
    src = str(tmp_path / "src")
    spark.range(1000).selectExpr("id", "id % 10 AS k").write.parquet(src)
    tracer.skip()
    stream = (spark.readStream.schema("id long, k long").parquet(src)
              .groupBy("k").count())
    q = (stream.writeStream.format("memory").queryName("perfbench_t")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    # The micro-batch ran on the stream's thread, outside any job group
    # of the caller; counting by job id still sees it.
    assert tracer.jobs() >= 1
    totals = streaming_totals(tracer.stream.take())
    assert totals["streaming.batches"] >= 1
    assert totals["streaming.input_rows"] == 1000
    assert totals["streaming.state_rows"] == 10
    assert totals["streaming.trigger_s"] >= totals["streaming.add_batch_s"]


def test_streaming_totals_are_zero_without_streams():
    assert streaming_totals([]) == dict.fromkeys(STREAMING_KEYS, 0.0)


def test_cache_usage_counts_persisted_blocks(spark):
    before, _ = cache_usage(spark)
    df = spark.range(10_000).selectExpr("id", "id * 3 AS y").persist()
    df.count()
    entries, mb = cache_usage(spark)
    assert entries == before + 1 and mb > 0
    df.unpersist(blocking=True)
    assert cache_usage(spark)[0] == before
