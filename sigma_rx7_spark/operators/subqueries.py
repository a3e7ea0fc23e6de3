"""Subqueries (SURVEY.md §4 "subquery decorrelation").

The reference delegates all subquery handling to DuckDB (reference
README.md:7); Spark-side, Catalyst's ``RewriteCorrelatedScalarSubquery``
decorrelates a correlated scalar subquery into an aggregate + join, and
EXISTS/IN become left-semi joins — so both queries here plan as ordinary
shuffles, no per-row re-execution. These are expressed through
``spark.sql`` deliberately: the SQL surface is part of the engine's API,
and it proves the decorrelation happens (asserted in tests/test_plans.py).

Scale: the decorrelated forms are a broadcast-able aggregate join (scalar)
and a semi join that never materializes the probe payload — both identical
in shape to q_join_broadcast / q_join_semi at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import io
from ..registry import query

# Exact-decimal average (compat.py convention): both engines sum
# DECIMAL(20,6) then do ONE double division, so the correlated threshold
# is bit-identical and the filter boundary cannot drift.
_SCALAR_SQL = """
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part p
WHERE p_retailprice > (
  SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(20,6))) AS DOUBLE)
         / COUNT(*)
  FROM part p2
  WHERE p2.p_brand = p.p_brand
)
"""

_EXISTS_SQL = """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority = '1-URGENT'
    AND o.o_totalprice > 300000
)
"""


@query("q_subquery_scalar", oracle=_SCALAR_SQL, tags=("SQ", "subquery"))
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: parts priced above their brand's
    average (the "brand vs its own average price" comparison behind the
    reference's cost rules, README.md:8-9). Catalyst decorrelates this to
    aggregate-per-brand + join — one scan of part per side, no per-row
    subquery execution."""
    return io.sql(spark, sf_dir, _SCALAR_SQL)


@query("q_subquery_exists", oracle=_EXISTS_SQL, tags=("SQ", "subquery"))
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: customers holding at least one large urgent
    order (the "patients with ≥1 recommendation" existence check,
    README.md:69-70, in SQL form). Plans as a left-semi join."""
    return io.sql(spark, sf_dir, _EXISTS_SQL)


_GROUPING_SETS_SQL = """
SELECT
  COALESCE(r_name, 'ALL') AS region_name,
  COALESCE(o_orderpriority, 'ALL') AS priority,
  GROUPING(r_name) AS g_region,
  GROUPING(o_orderpriority) AS g_priority,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
"""


@query("q_agg_grouping_sets", oracle=_GROUPING_SETS_SQL,
       tags=("A5", "grouping-sets"))
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent pivots + grand total in
    ONE pass via the Expand operator — rollup's general form; the
    reference's dashboard summary family, README.md:11). GROUPING()
    flags disambiguate real NULL group keys from subtotal rows."""
    return io.sql(spark, sf_dir, _GROUPING_SETS_SQL)


# ONE SQL text on both engines (the q_graph_reachability discipline):
# a correlated LATERAL subquery with ORDER BY + LIMIT — top-k-per-group
# as the optimizer sees it from the SQL surface, rather than the
# DataFrame window form of q_window_rank.
_LATERAL_SQL = """
SELECT c.c_custkey, c.c_name, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


@query("q_join_lateral_topk", oracle=_LATERAL_SQL,
       tags=("J14", "lateral", "subquery"))
def q_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED LATERAL JOIN (SQL surface): each customer's two most
    expensive orders via a correlated subquery with ORDER BY + LIMIT —
    the per-row-subquery phrasing of top-k-per-group that analysts
    write, decorrelated by Catalyst into a windowed rank plan (no
    per-customer re-execution; the same physical shape q_window_rank
    builds by hand — asserted in tests). The identical SQL text runs on
    DuckDB as the oracle, so the decorrelation is proven
    semantics-preserving, and the (price DESC, orderkey) total order
    makes the selected rowset engine-exact. Customers with no orders
    disappear (LATERAL is a cross-apply inner join), matching both
    engines."""
    return io.sql(spark, sf_dir, _LATERAL_SQL)
