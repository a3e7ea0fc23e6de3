from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = (SparkSession.builder.master("local[2]")
         .appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.local.dir", tmp)
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()


@pytest.fixture(scope="session")
def session_tracer(spark):
    t = tracing.Tracer(spark)
    yield t
    t.close()


@pytest.fixture
def tracer(session_tracer):
    """The session's tracer, with every earlier job already read."""
    session_tracer.skip()
    return session_tracer
