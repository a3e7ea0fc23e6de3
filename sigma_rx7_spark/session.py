"""SparkSession factory.

The reference app holds one long-lived embedded DuckDB connection
(reference README.md:7,20); the Spark-native equivalent is one long-lived
SparkSession with AQE enabled so Catalyst can re-plan joins/shuffles at
runtime — this is what makes the same code valid on local[32] and on a
1000-executor cluster.

Every session it builds forks its Python workers from ``daemon.py``: on
CPython < 3.12 each worker task otherwise re-reads ``pyspark.zip`` 16
times (~80 ms) before it runs any UDF code.

A long-lived session serves an interleaved mix of queries, so two costs
that Spark's defaults charge per call are paid once here instead:
Janino recompiling generated classes that a 100-entry codegen cache
evicted, and PySpark capturing the Python call site of every DataFrame
and ``pyspark.sql.functions`` call (see the codegen and call-site
entries of ``_PERF_CONF``; ``driver_cost.py`` counts both).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Settings that must hold for correctness (cross-engine determinism):
#  - UTC session timezone: parquet timestamps compare identically to the
#    DuckDB oracle regardless of host zone.
#  - nanosAsLong: the harness `events` table stores TIMESTAMP(NANOS) which
#    Spark 4 refuses to read natively; we read the raw int64 and convert
#    (see io.load). Runtime-settable, so we also set it defensively on
#    sessions we did not create (the driver's).
_REQUIRED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Settings that matter for performance at scale but are safe defaults
# everywhere. AQE handles post-shuffle coalescing and skew-join splitting;
# the shuffle-partition count is a starting point AQE tunes down from.
_PERF_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Catalyst compiles each plan's generated Java with Janino; Spark
    # keeps the classes in one JVM-wide LRU of this many entries (default
    # 100, in 4 segments), keyed by source text. Interleaved queries need
    # more: a warm perfbench `events` pass uses ~92 classes, the 9-query
    # perfbench mix ~170. At 100 each query evicted the next one's: a
    # warm `events` pass recompiled 6-19 classes, a mix pass 96-138, at a
    # median 9 ms each; at 2048 a warm pass recompiles none. Cost: classes
    # stay loaded instead of being evicted and unloaded. After a full
    # bench.py line (83 queries, sf0.1, local[4]) Metaspace held 198 MiB
    # at 100 and 208 MiB here (with the next entry), and the line
    # compiled 1380 classes instead of 4101. Static conf: read once per
    # JVM when CodeGenerator builds its cache, so only a builder conf
    # reaches it.
    "spark.sql.codegen.cache.maxEntries": "2048",
    # A whole-stage class's name carries its codegen stage id, and that
    # id is not stable across calls of one plan: q_stream_merge's merge
    # batch numbers the same two stages 4 and 6 in either order, so at
    # 2048 entries a warm call still recompiled 4 classes now and then.
    # Without the id the source text, and so the cache key, is the same;
    # stages with equal code also share one class (a cold q_stream_merge
    # compiles 27 classes, not 33). Cost: JVM stack traces and profiles
    # name GeneratedIterator without the stage number; explain keeps it.
    "spark.sql.codegen.useIdInClassName": "false",
    # PySpark labels every DataFrame and pyspark.sql.functions call with
    # its Python call site, only for error messages: a stack walk, an
    # `import IPython` attempt and ~10 py4j round trips per call.
    # `F.col("a")` costs 13 py4j commands with it and 3 without; building
    # q_pipeline_quality_model ~2700 and ~750. Cost: an AnalysisException
    # keeps its error condition and message, but its query context names
    # a JVM frame instead of the Python file:line. PySpark reads this
    # once per process, from the first active session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "sigma-rx7-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    Local test/bench runs size parallelism from ``SPARK_GRAFT_CPUS``
    (default: all cores); on a real cluster ``master`` comes from the
    environment and shuffle partitions should track cluster cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    n_shuffle = shuffle_partitions or int(os.environ.get(
        "SIGMA_SHUFFLE_PARTITIONS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    builder = builder.config("spark.ui.enabled", "false")
    # Keep stdout/stderr parseable for harnesses that tail-capture output
    # (the bench driver reads the last ~2000 bytes): no [Stage N:>] bars.
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SIGMA_DRIVER_MEM", "8g"))
    # Fork Python workers from sigma_rx7_spark.daemon, which stops each
    # task from re-reading pyspark.zip (see that module). Spark starts it
    # with ``python -m``, so put this package's root on the workers' path
    # for it to resolve from any working directory.
    builder = builder.config("spark.python.daemon.module",
                             "sigma_rx7_spark.daemon")
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in {**_REQUIRED_CONF, **_PERF_CONF}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_conf(spark)
    return spark


# Sessions already carrying _REQUIRED_CONF. Weak references: a stopped
# session is collectable, and a NEW session object (even at a reused
# address) is a distinct referent, so the guard can never mistake one
# session for another. Nothing in the repo mutates these two keys after
# setup (they are correctness pins, not tunables), so set-once is
# equivalent to set-per-call minus the per-load py4j round trips.
_CONFED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable required conf to ANY session (once).

    The driver harness constructs its own SparkSession; every query entry
    point calls this so correctness does not depend on who built the
    session. All keys here are SQL confs (safe to set post-startup).
    """
    if spark in _CONFED:
        return spark
    for k, v in _REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - immutable conf on odd builds
            pass
    _CONFED.add(spark)
    return spark
