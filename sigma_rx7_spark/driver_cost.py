"""Two fixed costs a warm query call can pay before any data moves.

- **Codegen compiles.** Catalyst generates Java source for each plan and
  compiles it with Janino; Spark keeps the compiled classes in one
  JVM-wide cache keyed by the source text. ``codegen_compiles`` reads the
  JVM's running count of compiles (Spark's ``CodegenMetrics``
  compilation-time histogram), driver and local executors alike. A warm
  call whose classes are all cached adds 0.
- **py4j commands.** Every DataFrame and ``pyspark.sql.functions`` call
  is one or more round trips from this Python process to the JVM.
  ``Py4jCommands`` counts them while it is open. The count includes the
  release command py4j sends when Python frees a JVM object reference,
  so a garbage collection inside the block adds objects made before it.

``session.get_spark`` sizes the first and trims the second; these
counters are how ``scripts/profile_query.py`` and
``tests/test_driver_cost.py`` read both.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM since it started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class Py4jCommands:
    """Counts the py4j commands this process sends to the session's JVM
    while the block is open, from any thread: ``with Py4jCommands(spark)
    as c: ...`` then ``c.n``."""

    def __init__(self, spark: SparkSession):
        self._client = spark.sparkContext._gateway._gateway_client
        self._lock = threading.Lock()
        self.n = 0

    def __enter__(self) -> "Py4jCommands":
        self._send = send = self._client.send_command

        def counted(*args, **kwargs):
            with self._lock:
                self.n += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        self._client.send_command = self._send
