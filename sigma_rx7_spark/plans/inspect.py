"""Physical-plan inspection helpers (SURVEY.md §4, SCALE.md).

The reference delegates planning to DuckDB and exposes nothing; here the
plan IS the scale contract, so the engine ships first-class helpers to
render and interrogate it. tests/test_plans.py uses these to pin the
scale-critical properties (pushdown, pruning, broadcast, decorrelation);
operators use them ad hoc during development (`.explain`-driven tuning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """``EXPLAIN FORMATTED`` text for a DataFrame (pre-execution; AQE
    final plans may further improve at runtime)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def partition_filters(df: DataFrame) -> list[str]:
    return [ln.split("PartitionFilters", 1)[1].strip(" :")
            for ln in formatted_plan(df).splitlines()
            if "PartitionFilters" in ln]
