"""The session's per-call fixed costs stay paid once.

``session.get_spark`` sizes Spark's codegen cache for the library's
working set, keeps codegen stage ids out of generated class names, and
turns off PySpark's DataFrame call-site capture (see the comments on
``_PERF_CONF``). Without the cache size, an interleaved mix of queries
evicts its own generated classes and recompiles them on every pass;
with the stage ids, a plan whose stages are numbered differently on
another call recompiles them; without the last, every expression built
costs several extra py4j round trips. Both costs are read with
``sigma_rx7_spark.driver_cost``.
"""

from __future__ import annotations

import gc
import random
import time

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sigma_rx7_spark import registry
from sigma_rx7_spark.driver_cost import Py4jCommands, codegen_compiles

# The perfbench `events` queries plus two `corpus` ones with many
# generated classes: more than Spark's default 100-entry cache holds.
MIX = (
    "q_stream_hourly_distinct",
    "q_stream_merge",
    "q_merge_upsert",
    "q_window_rolling_dau",
    "q_sim_topk_ivf_staged",
    "q_pipeline_quality_model",
)


def test_warm_interleaved_mix_compiles_nothing(spark, sf_dir):
    """Round 3 of a seeded interleaved mix compiles no class. Round 1
    compiles the working set and later rounds find it cached; round 3
    is read so that a class first needed on a second call does not
    count. A plan with a literal no earlier call used shows the counter
    moves."""
    before = codegen_compiles(spark)
    spark.range(4).selectExpr(f"id * {time.time_ns()} AS x") \
        .write.mode("overwrite").format("noop").save()
    assert codegen_compiles(spark) > before
    specs = registry.load_all()
    rng = random.Random(7)
    compiled = []
    for _ in range(3):
        order = list(MIX)
        rng.shuffle(order)
        before = codegen_compiles(spark)
        for name in order:
            specs[name].fn(spark, sf_dir).write.mode("overwrite") \
                .format("noop").save()
        compiled.append(codegen_compiles(spark) - before)
    assert compiled[2] == 0, compiled


def _expression_commands(spark) -> int:
    """py4j commands to build one fixed expression. The cyclic garbage
    collector is held off so that py4j's release commands for objects
    made earlier do not land in the count."""
    gc.collect()
    gc.disable()
    try:
        with Py4jCommands(spark) as c:
            F.sum(F.when(F.col("a") > F.lit(1), F.col("b"))
                  .otherwise(F.lit(0)))
    finally:
        gc.enable()
    return c.n


def test_expression_build_skips_call_site_capture(spark):
    """Building one fixed expression costs under half the py4j commands
    it costs with call-site capture forced on. PySpark reads the setting
    once per process from the first active session; the test reads it
    from this one and restores the cached value after."""
    saved = error_utils._enable_debugging_cache
    try:
        error_utils._enable_debugging_cache = None
        assert SparkSession.getActiveSession() is not None
        error_utils.is_debugging_enabled()  # read it outside the count
        off = _expression_commands(spark)
        error_utils._enable_debugging_cache = True
        on = _expression_commands(spark)
    finally:
        error_utils._enable_debugging_cache = saved
    assert on > 0 and off * 2 < on, (off, on)


def test_unresolved_column_keeps_its_error_condition(spark):
    """Without call-site capture an analysis error keeps its condition;
    only its query context stops naming the Python line."""
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).schema
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "no_such_column" in str(err.value)
