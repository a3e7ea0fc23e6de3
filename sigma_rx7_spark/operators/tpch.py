"""TPC-H derived relational suite (SURVEY.md §2.13, H1-H22).

The 22 TPC-H queries re-expressed over the harness tables — the
recognized relational yardstick (TPC-H spec v3 is public), exercising
Catalyst's join reordering / CBO on the canonical multi-join shapes
(Q2/Q5/Q8/Q9/Q21) far harder than any hand-shaped join in this repo.

ONE SQL TEXT PER QUERY runs on BOTH engines (the q_graph_reachability
one-SQL-text contract): ``io.sql`` binds each bare table token to a
DataFrame argument of ``spark.sql`` (no session view is created or left
behind) and Catalyst plans the text verbatim (fully declarative — it
owns join order, build sides, and DPP); the oracle is the *identical*
text on DuckDB's pre-registered views. Engine and gate can therefore
never drift in query semantics — only in engine arithmetic, which the
texts neutralize with the repo's standing discipline (every SUM/AVG of
doubles goes through DECIMAL(20,6); every division is quantized to
6 dp; every LIMIT sits under a total order).

Schema adaptation (the harness ships a TPC-H *subset* schema): columns
the generator omits (l_commitdate/l_receiptdate/l_shipmode,
o_comment/o_shippriority, c_phone/c_address, p_mfgr/p_container,
s_address/s_phone) are substituted by the nearest shipped column with
the query SHAPE kept intact — each substitution is named in the query's
docstring. The missing ``partsupp`` table is staged deterministically
(4 suppliers per part, closed-form key/qty/cost arithmetic — no RNG)
by ``staging.stage`` and read as the same parquet bytes by both
engines; date-window literals are shifted into the generator's
1995-2001 range and value literals (brands 1-25, NATION_* names) onto
values that exist at ALL THREE harness scales (probed: nations with
suppliers at sf0.001 are {3,8,12,13,15,18,19,20,21,24}).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import io, staging
from ..io import load, load_parallel
from ..registry import query


def _build_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp: every part gets 4 suppliers at evenly
    spread key offsets (slot i -> (p_partkey + i*floor(ns/4)) mod ns,
    distinct for ns >= 4), with closed-form availqty/supplycost — the
    same row set on every build, every host, every engine. Supply cost
    lands on the cent grid (integer cents / 100) so decimal quantization
    downstream is exact."""
    ns = load(spark, sf_dir, "supplier").count()
    step = max(1, ns // 4)
    part = load(spark, sf_dir, "part").select("p_partkey")
    slots = spark.range(4).select(F.col("id").alias("slot"))
    ps_suppkey = ((F.col("p_partkey") + F.col("slot") * step)
                  % F.lit(max(1, ns))).cast("bigint")
    ps = (part.crossJoin(slots)
          .select(F.col("p_partkey").alias("ps_partkey"),
                  ps_suppkey.alias("ps_suppkey"))
          .withColumn("ps_availqty",
                      ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 11)
                       % 9999 + 1).cast("int"))
          .withColumn("ps_supplycost",
                      (((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17)
                        % 99900 + 100).cast("double") / F.lit(100.0))))
    return ps


def _stage_partsupp(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        _build_partsupp(spark, sf_dir).coalesce(1) \
            .write.mode("overwrite").parquet(path)
    return staging.stage("tpch_partsupp", sf_dir, build,
                         code=(_build_partsupp,),
                         inputs=("part", "supplier"))


def _run(spark: SparkSession, sf_dir: str, sql: str,
         repair: tuple[str, ...] = ()) -> DataFrame:
    """Execute a canonical TPC-H text through ``io.sql``: Catalyst plans
    the text verbatim with each table token bound to a DataFrame (no
    session view, so no cross-sf or cross-thread clobbering). A text
    that reads ``partsupp`` binds the staged parquet. Tables named in
    ``repair`` bind through io.load_parallel (input-parallelism
    repair — guide §2.5; no-op at scale) — opt-in per query because the
    repair shuffle only wins where the scan stage fuses heavy compute
    (Q1's nine decimal partial aggregates; a join input would just gain
    an exchange). The SQL text — and therefore the DuckDB oracle — is
    unchanged."""
    frames = {t: load_parallel(spark, sf_dir, t) for t in repair}
    if re.search(r"\bpartsupp\b", sql):
        frames["partsupp"] = spark.read.parquet(
            _stage_partsupp(spark, sf_dir))
    return io.sql(spark, sf_dir, sql, **frames)


def _ps_oracle(sql: str):
    """Oracle for a partsupp-reading text: the identical SQL with the
    partsupp token bound to the staged parquet (built by the engine run
    that always precedes the oracle in the driver's compare)."""
    def ora(sf_dir: str) -> str:
        rel = (f"read_parquet('{staging.path('tpch_partsupp', sf_dir)}"
               "/*.parquet')")
        return io.sub_outside_literals(r"\bpartsupp\b", rel, sql)
    return ora


def _dsum(expr: str, alias: str) -> str:
    """Order-insensitive engine-exact SUM of doubles (the repo's
    standing decimal discipline, compat.o_dsum shape)."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(20,6))) AS DOUBLE) AS {alias}"


_REV = "l.l_extendedprice * (1 - l.l_discount)"


# --------------------------------------------------------------------------
# H1 / Q1 — pricing summary report
_Q01 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
            AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
         / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
         / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE)
         / COUNT(*) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q_tpch_q01", oracle=_Q01, tags=("H1", "tpch"))
def q_tpch_q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary, textually verbatim modulo the decimal
    discipline (one scan, 6 groups, map-side partial agg; the flagship
    q_agg_pricing_summary is this query's DataFrame twin). lineitem
    binds through the input-parallelism repair (r15: 1.22 -> 0.83 s
    warm min at sf0.1 — the fused decimal partial aggregates were
    single-threaded on the one-row-group fixture; no-op at scale)."""
    return _run(spark, sf_dir, _Q01, repair=("lineitem",))


# H2 / Q2 — minimum-cost supplier (correlated MIN over partsupp)
_Q02 = """
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand
FROM part p, supplier s, partsupp ps, nation n, region r
WHERE p.p_partkey = ps.ps_partkey AND s.s_suppkey = ps.ps_suppkey
  AND p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost = (
      SELECT MIN(ps2.ps_supplycost)
      FROM partsupp ps2, supplier s2, nation n2, region r2
      WHERE ps2.ps_partkey = p.p_partkey
        AND s2.s_suppkey = ps2.ps_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@query("q_tpch_q02", oracle=_ps_oracle(_Q02), tags=("H2", "tpch"))
def q_tpch_q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier: 5-way join with a correlated MIN
    subquery over the same 4-relation join — the classic decorrelation
    test. Adaptations: p_mfgr (absent) -> p_brand in the output;
    s_address/s_phone/s_comment dropped; p_size 15 -> BETWEEN 10 AND 20
    so the smallest sf keeps survivors. MIN needs no quantization
    (order-free); the LIMIT rides a total order (acctbal, n_name,
    s_name, partkey)."""
    return _run(spark, sf_dir, _Q02)


# H3 / Q3 — shipping priority (unshipped revenue)
_Q03 = f"""
SELECT l.l_orderkey,
       {_dsum(_REV, "revenue")},
       o.o_orderdate, o.o_orderpriority
FROM customer c, orders o, lineitem l
WHERE c.c_mktsegment = 'BUILDING'
  AND c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10
"""


@query("q_tpch_q03", oracle=_Q03, tags=("H3", "tpch"))
def q_tpch_q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: customer->orders->lineitem chain with
    opposing date predicates, top-10 by quantized revenue. Adaptations:
    o_shippriority (absent) -> o_orderpriority; the 1995 pivot date ->
    1998-03-15 (mid data range). l_orderkey tiebreak totals the LIMIT
    order."""
    return _run(spark, sf_dir, _Q03)


# H4 / Q4 — order priority checking (EXISTS semi-join)
_Q04 = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("q_tpch_q04", oracle=_Q04, tags=("H4", "tpch"))
def q_tpch_q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority check: correlated EXISTS -> left-semi
    join, grouped counts. Adaptation: the late-line predicate
    l_commitdate < l_receiptdate (both absent) -> shipped more than 45
    days after the order date (keeps the non-equi correlated predicate
    that makes Q4's decorrelation interesting)."""
    return _run(spark, sf_dir, _Q04)


# H5 / Q5 — local supplier volume (6-way join)
_Q05 = f"""
SELECT n.n_name, {_dsum(_REV, "revenue")}
FROM customer c, orders o, lineitem l, supplier s, nation n, region r
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


@query("q_tpch_q05", oracle=_Q05, tags=("H5", "tpch"))
def q_tpch_q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume, textually verbatim (date window
    shifted to 1997): the canonical 6-way join with the non-tree
    c_nationkey = s_nationkey edge — the join-reordering stress test.
    Catalyst broadcast-joins the three dimension legs and leaves one
    fact shuffle."""
    return _run(spark, sf_dir, _Q05)


# H6 / Q6 — forecasting revenue change (pure scan-filter-agg)
_Q06 = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(20,6)))
       AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < CAST(24 AS DOUBLE)
"""


@query("q_tpch_q06", oracle=_Q06, tags=("H6", "tpch"))
def q_tpch_q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 revenue-change forecast, textually verbatim (window
    shifted to 1997): the pushdown benchmark — every predicate reaches
    the parquet scan, zero joins, one global agg. Float literals CAST
    AS DOUBLE (the r8 DuckDB decimal-literal lesson)."""
    return _run(spark, sf_dir, _Q06)


# H7 / Q7 — volume shipping between two nations
_Q07 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume
    FROM supplier s, lineitem l, orders o, customer c,
         nation n1, nation n2
    WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
      AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
      AND c.c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1997-01-01'
                           AND TIMESTAMP '1998-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q_tpch_q07", oracle=_Q07, tags=("H7", "tpch"))
def q_tpch_q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 bilateral shipping volume: the double-aliased nation
    join with a disjunctive pair predicate. Nations FRANCE/GERMANY ->
    NATION_3/NATION_8 (both hold suppliers at every harness scale,
    probed). EXTRACT(YEAR) CAST BIGINT on both engines (DuckDB types it
    BIGINT, Spark INT — the cast pins one schema)."""
    return _run(spark, sf_dir, _Q07)


# H8 / Q8 — national market share (8-way join + conditional share)
_Q08 = """
SELECT o_year,
       CASE WHEN CAST(SUM(CAST(volume AS DECIMAL(20,6))) AS DOUBLE) = 0
            THEN NULL
            ELSE CAST(CAST(
              CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                 ELSE 0 END AS DECIMAL(20,6))) AS DOUBLE)
              / CAST(SUM(CAST(volume AS DECIMAL(20,6))) AS DOUBLE)
              AS DECIMAL(18,6)) AS DOUBLE) END AS mkt_share
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM part p, supplier s, lineitem l, orders o, customer c,
         nation n1, nation n2, region r
    WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
      AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
      AND c.c_nationkey = n1.n_nationkey
      AND n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
      AND s.s_nationkey = n2.n_nationkey
      AND o.o_orderdate BETWEEN TIMESTAMP '1997-01-01'
                            AND TIMESTAMP '1998-12-31'
      AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("q_tpch_q08", oracle=_Q08, tags=("H8", "tpch"))
def q_tpch_q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: the 8-relation join (the suite's
    deepest) with a conditional-share aggregate. BRAZIL -> NATION_3
    (suppliers at every scale), ECONOMY ANODIZED STEEL -> the
    generator's single-word 'ECONOMY'. The share division is quantized
    at 6 dp; the =0 denominator guard is dead on harness data (prices
    positive) and NULLs both engines identically on a degenerate
    corpus."""
    return _run(spark, sf_dir, _Q08)


# H9 / Q9 — product-type profit (partsupp cost join)
_Q09 = """
SELECT supp_nation, o_year,
       CAST(SUM(CAST(amount AS DECIMAL(20,6))) AS DOUBLE) AS sum_profit
FROM (
    SELECT n.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           l.l_extendedprice * (1 - l.l_discount)
             - ps.ps_supplycost * l.l_quantity AS amount
    FROM part p, supplier s, lineitem l, partsupp ps, orders o, nation n
    WHERE s.s_suppkey = l.l_suppkey AND ps.ps_suppkey = l.l_suppkey
      AND ps.ps_partkey = l.l_partkey AND p.p_partkey = l.l_partkey
      AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey
      AND p.p_name LIKE '%red%'
) profit
GROUP BY supp_nation, o_year
ORDER BY supp_nation, o_year DESC
"""


@query("q_tpch_q09", oracle=_ps_oracle(_Q09), tags=("H9", "tpch"))
def q_tpch_q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit: 6-way join including the composite
    (partkey, suppkey) partsupp edge — the classic CBO trap (the
    lineitem->partsupp edge must not be planned as a cross). '%green%'
    -> '%red%' (a generator color). Profit can be negative; the decimal
    sum is sign-exact."""
    return _run(spark, sf_dir, _Q09)


# H10 / Q10 — returned-item reporting (top-20 customers)
_Q10 = f"""
SELECT c.c_custkey, c.c_name, {_dsum(_REV, "revenue")},
       c.c_acctbal, n.n_name
FROM customer c, orders o, lineitem l, nation n
WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
  AND o.o_orderdate >= TIMESTAMP '1997-10-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@query("q_tpch_q10", oracle=_Q10, tags=("H10", "tpch"))
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item report: 4-way join, grouped revenue,
    top 20 under a quantized total order (c_custkey tiebreak).
    Adaptation: c_address/c_phone/c_comment (absent) dropped from the
    projection; the join/agg shape is verbatim."""
    return _run(spark, sf_dir, _Q10)


# H11 / Q11 — important stock identification
_Q11 = """
WITH grouped AS (
    SELECT ps.ps_partkey,
           CAST(SUM(CAST(ps.ps_supplycost * ps.ps_availqty
                AS DECIMAL(20,6))) AS DOUBLE) AS stock_value
    FROM partsupp ps, supplier s, nation n
    WHERE ps.ps_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
      AND n.n_name = 'NATION_3'
    GROUP BY ps.ps_partkey
),
thresh AS (
    SELECT CAST(SUM(CAST(stock_value AS DECIMAL(20,6))) AS DOUBLE)
             / COUNT(*) * CAST(2.5 AS DOUBLE) AS cut
    FROM grouped
)
SELECT g.ps_partkey, g.stock_value
FROM grouped g, thresh t
WHERE g.stock_value > t.cut
ORDER BY g.stock_value DESC, g.ps_partkey
"""


@query("q_tpch_q11", oracle=_ps_oracle(_Q11), tags=("H11", "tpch"))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock: grouped inventory value vs a global
    threshold. Adaptations: GERMANY -> NATION_3; the spec's
    FRACTION/SF share (which cannot stay non-trivial across three
    harness scales with one literal) -> 2.5x the mean per-part value —
    scale-invariant, same business question, same
    aggregate-vs-global-aggregate shape (the HAVING-scalar decorrelation
    expressed as a portable CTE cross join)."""
    return _run(spark, sf_dir, _Q11)


# H12 / Q12 — shipping modes and order priority
_Q12 = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                       OR o.o_orderpriority = '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority <> '1-URGENT'
                      AND o.o_orderpriority <> '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o, lineitem l
WHERE o.o_orderkey = l.l_orderkey
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@query("q_tpch_q12", oracle=_Q12, tags=("H12", "tpch"))
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 priority split by shipping class: the conditional
    two-counter aggregate is verbatim. Adaptations: l_shipmode (absent)
    -> l_returnflag as the grouping class; the commit/receipt date
    sandwich (absent) -> the ship-date year window."""
    return _run(spark, sf_dir, _Q12)


# H13 / Q13 — customer order-count distribution
_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
    FROM customer c LEFT OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey
     AND o.o_orderpriority NOT LIKE '5%'
    GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q_tpch_q13", oracle=_Q13, tags=("H13", "tpch"))
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 order-count distribution: LEFT OUTER with a filter in
    the ON clause (zero-order customers must survive as c_count = 0 —
    pushing the filter to WHERE would be wrong), then a distribution
    over the counts. Adaptation: o_comment NOT LIKE '%special%requests%'
    (absent) -> o_orderpriority NOT LIKE '5%'."""
    return _run(spark, sf_dir, _Q13)


# H14 / Q14 — promotion effect
_Q14 = """
SELECT CASE WHEN CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(20,6))) AS DOUBLE) = 0 THEN NULL
       ELSE CAST(CAST(
         CAST(100.0 AS DOUBLE)
         * CAST(SUM(CAST(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END AS DECIMAL(20,6))) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                AS DECIMAL(20,6))) AS DOUBLE)
         AS DECIMAL(18,6)) AS DOUBLE) END AS promo_revenue
FROM lineitem l, part p
WHERE l.l_partkey = p.p_partkey
  AND l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
"""


@query("q_tpch_q14", oracle=_Q14, tags=("H14", "tpch"))
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect, textually verbatim (month shifted to
    1997-09; PROMO% matches the generator's p_type exactly): one
    broadcast part join, a conditional-share aggregate quantized at 6
    dp, with the zero-denominator ANSI guard NULLing both engines
    identically on degenerate input."""
    return _run(spark, sf_dir, _Q14)


# H15 / Q15 — top supplier (view + scalar max). The revenue CTE body
# is a shared constant: the inline query, the materialized twin's
# BUILD, and the staging stamp all derive from this ONE text, so the
# twin can never materialize a different relation than the view the
# verbatim query consumes.
_Q15_REVENUE = """SELECT l_suppkey AS supplier_no,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(20,6))) AS DOUBLE) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey"""

_Q15 = f"""
WITH revenue AS (
    {_Q15_REVENUE}
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s, revenue r
WHERE s.s_suppkey = r.supplier_no
  AND r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("q_tpch_q15", oracle=_Q15, tags=("H15", "tpch"))
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: the spec's CREATE VIEW expressed as a
    CTE consumed twice (grouped relation + scalar MAX over it) — the
    revenue totals are quantized BEFORE the MAX compare, so the
    all-tied-suppliers contract is engine-exact. s_address dropped
    (absent)."""
    return _run(spark, sf_dir, _Q15)


# H16 / Q16 — parts/supplier relationship
_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp ps, part p
WHERE p.p_partkey = ps.ps_partkey
  AND p.p_brand <> 'Brand#21' AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
  AND ps.ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0 AS DOUBLE))
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@query("q_tpch_q16", oracle=_ps_oracle(_Q16), tags=("H16", "tpch"))
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-relationship count: negated predicates, an IN
    size list, COUNT(DISTINCT), and a NOT IN anti-subquery. Adaptation:
    the '%Customer%Complaints%' comment filter (absent) -> negative
    account balance (alive from sf0.01 up, probed); Brand#45 ->
    Brand#21 (brands run 1-25 here)."""
    return _run(spark, sf_dir, _Q16)


# H17 / Q17 — small-quantity-order revenue (correlated avg)
_Q17 = """
SELECT CAST(CAST(
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
         / CAST(7.0 AS DOUBLE)
       AS DECIMAL(18,6)) AS DOUBLE) AS avg_yearly
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND p.p_brand = 'Brand#3' AND p.p_size <= 25
  AND l.l_quantity < (
      SELECT CAST(0.2 AS DOUBLE)
             * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(20,6))) AS DOUBLE)
                / COUNT(l2.l_quantity))
      FROM lineitem l2
      WHERE l2.l_partkey = p.p_partkey)
"""


@query("q_tpch_q17", oracle=_Q17, tags=("H17", "tpch"))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity revenue: the correlated per-part average
    (decorrelates to an aggregate-then-join). Adaptation: p_container =
    'MED BOX' (absent) -> p_size <= 25, and Brand#23 -> Brand#3 with the
    wider size band so the smallest sf keeps survivors. The correlated
    AVG is decimal-quantized identically on both engines; its COUNT is
    >0 by construction (the outer join edge guarantees the part has
    lineitems)."""
    return _run(spark, sf_dir, _Q17)


# H18 / Q18 — large-volume customers
_Q18 = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM customer c, orders o, lineitem l
WHERE o.o_orderkey IN (
      SELECT l2.l_orderkey FROM lineitem l2
      GROUP BY l2.l_orderkey
      HAVING SUM(CAST(l2.l_quantity AS DECIMAL(20,6))) > 300)
  AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
         o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@query("q_tpch_q18", oracle=_Q18, tags=("H18", "tpch"))
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: IN over a grouped HAVING
    subquery (semi-join against an aggregate), then regroup with the
    dimension legs. Threshold 300 (spec 300-315) keeps survivors at
    every harness scale (probed 5/46/473). The decimal HAVING sum makes
    the threshold compare exact; o_orderkey totals the LIMIT order."""
    return _run(spark, sf_dir, _Q18)


# H19 / Q19 — discounted revenue (disjunctive join predicate)
_Q19 = """
SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
       AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem l, part p
WHERE (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#12'
       AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= CAST(1 AS DOUBLE)
       AND l.l_quantity <= CAST(11 AS DOUBLE))
   OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#23'
       AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity >= CAST(10 AS DOUBLE)
       AND l.l_quantity <= CAST(20 AS DOUBLE))
   OR (p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#24'
       AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity >= CAST(20 AS DOUBLE)
       AND l.l_quantity <= CAST(30 AS DOUBLE))
"""


@query("q_tpch_q19", oracle=_Q19, tags=("H19", "tpch"))
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: the disjunction-of-conjunctions
    join predicate — the optimizer must extract the common
    p_partkey = l_partkey equi-conjunct from the OR arms or degrade to
    a nested-loop cross (plan-asserted in tests/test_plans.py).
    Adaptations: p_container lists (absent) -> per-arm p_size bands;
    Brand#34 -> Brand#24 (brands run 1-25); l_shipmode/l_shipinstruct
    filters dropped."""
    return _run(spark, sf_dir, _Q19)


# H20 / Q20 — potential part promotion (nested IN + correlated scalar)
_Q20 = """
SELECT s.s_name, s.s_acctbal
FROM supplier s, nation n
WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey FROM partsupp ps
      WHERE ps.ps_partkey IN (
            SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND ps.ps_availqty > (
            SELECT CAST(0.5 AS DOUBLE)
                   * CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,6)))
                     AS DOUBLE)
            FROM lineitem l
            WHERE l.l_partkey = ps.ps_partkey
              AND l.l_suppkey = ps.ps_suppkey
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'))
  AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
ORDER BY s.s_name
"""


@query("q_tpch_q20", oracle=_ps_oracle(_Q20), tags=("H20", "tpch"))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 part promotion: three nesting levels — IN over
    partsupp filtered by an IN over part AND a two-key-correlated
    scalar sum against lineitem (NULL when the pair never shipped,
    which filters the row — the spec's own semantics). CANADA ->
    NATION_3 (suppliers at every scale); s_address -> s_acctbal in the
    projection."""
    return _run(spark, sf_dir, _Q20)


# H21 / Q21 — suppliers who kept orders waiting
_Q21 = """
WITH late AS (
    SELECT l.l_orderkey, l.l_suppkey
    FROM lineitem l, orders o
    WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s, late l1, nation n
WHERE s.s_suppkey = l1.l_suppkey
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM late l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey)
  AND s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_8'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@query("q_tpch_q21", oracle=_Q21, tags=("H21", "tpch"))
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 waiting-order suppliers: EXISTS (another supplier
    shipped the order) + NOT EXISTS (no OTHER supplier was late) —
    the double-correlated anti pattern. Adaptation: lateness
    l_receiptdate > l_commitdate (both absent) -> shipped >45 days
    after order date, factored into a CTE so both correlated probes
    keep equality-only correlation (portable decorrelation on both
    engines); SAUDI ARABIA -> NATION_8."""
    return _run(spark, sf_dir, _Q21)


# H22 / Q22 — global sales opportunity
_Q22 = """
WITH eligible AS (
    SELECT c.c_custkey, c.c_acctbal,
           CAST(c.c_nationkey AS BIGINT) AS cntrycode
    FROM customer c
    WHERE c.c_nationkey IN (3, 8, 13, 17, 19, 21, 24)
),
cutoff AS (
    SELECT CASE WHEN COUNT(*) = 0 THEN NULL
           ELSE CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
                / COUNT(*) END AS avg_bal
    FROM eligible
    WHERE c_acctbal > CAST(0.0 AS DOUBLE)
)
SELECT e.cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(e.c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
         AS totacctbal
FROM eligible e, cutoff
WHERE e.c_acctbal > cutoff.avg_bal
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = e.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY e.cntrycode
ORDER BY e.cntrycode
"""


@query("q_tpch_q22", oracle=_Q22, tags=("H22", "tpch"))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 sales opportunity: above-average-balance customers in
    listed countries with no recent orders — scalar-subquery cutoff +
    NOT EXISTS anti-join + regroup. Adaptations: substring(c_phone,1,2)
    country codes (absent) -> c_nationkey buckets; "no orders ever"
    -> "no orders since 1999" (every harness customer has SOME order —
    probed 6/29/305 lapsed); the AVG cutoff is decimal-exact with a
    COUNT=0 ANSI guard."""
    return _run(spark, sf_dir, _Q22)


# H15m — Q15 with the spec's CREATE VIEW made REAL (VERDICT r13 item 6)


def _build_q15_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q15 revenue view, built from the SAME text constant the
    verbatim query inlines (_Q15_REVENUE) — one source of truth, so
    the staged artifact and the CTE can never compute different
    relations."""
    return _run(spark, sf_dir, _Q15_REVENUE)


def _stage_q15_revenue(spark: SparkSession, sf_dir: str) -> str:
    def build(path: str) -> None:
        _build_q15_revenue(spark, sf_dir).coalesce(1) \
            .write.mode("overwrite").parquet(path)
    return staging.stage("tpch_revenue", sf_dir, build,
                         code=(_build_q15_revenue,), inputs=("lineitem",),
                         extra=_Q15_REVENUE)


@query("q_tpch_q15_materialized", oracle=_Q15, tags=("H15m", "tpch", "mv"))
def q_tpch_q15_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 answered from a MATERIALIZED revenue view — the way a
    100 TB deployment closes the documented Q15 double-scan (SCALE.md
    r13: Spark inlines WITH-CTEs and ReusedExchange does not fire
    across the scalar-subquery boundary, so the verbatim q_tpch_q15
    scans lineitem twice; the spec's CREATE VIEW is exactly a
    materialization license). The revenue relation is staged once per
    sf from the SAME _Q15_REVENUE text the inline query uses (rebuilt
    only when the text, the builder or lineitem changes),
    then the serve plan reads the tiny per-supplier artifact ONCE:
    scalar max and tie filter come from a single empty-frame window
    pass (no second revenue scan), the supplier join broadcasts.
    Lineitem is scanned ZERO times at serve (plan-asserted:
    tests/test_plans.py::test_tpch_q15_materialized_serves_without_lineitem),
    once at build — vs twice per query inline. Oracle: the verbatim
    Q15 text, so the gate proves materialize-then-serve ==
    compute-inline exactly (total_revenue quantized at 6 dp BEFORE
    the max compare, both paths)."""
    from pyspark.sql import Window

    from ..io import read_staged

    path = _stage_q15_revenue(spark, sf_dir)
    rev = read_staged(
        spark, path, "supplier_no bigint, total_revenue double")
    wall = Window.partitionBy()
    top = (rev
           .withColumn("mx", F.max("total_revenue").over(wall))
           .where(F.col("total_revenue") == F.col("mx")))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (sup.join(top, sup.s_suppkey == top.supplier_no)
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))
