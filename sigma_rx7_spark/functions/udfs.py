"""Pandas UDF / UDAF surface (SURVEY.md §2.10 X1, X3).

The engine's rule is: native Column expressions in every hot path
(functions/scoring.py implements the reference's 'ML' scorer that way).
This module is the documented *slow path* — the Arrow-batched patterns to
reach for only when logic genuinely cannot be expressed in built-ins:

- X1: a scalar ``pandas_udf`` variant of the denial logistic, kept as the
  pattern example (vectorized numpy, ~10-100× faster than row-at-a-time
  Python UDFs, still slower than codegen).
- X3: a GROUPED_AGG ``pandas_udf`` custom aggregate (tier-weighted price
  in integer cents — integer arithmetic so the result is engine-exact
  and therefore oracle-checkable even through Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..compat import q
from ..io import load
from ..registry import query
from .scoring import DENIAL_WEIGHTS


# pandas_udf parses its DDL return type against the active session, so
# the UDFs are built lazily (module import must not require Spark).

def denial_score_pandas():
    """X1 slow-path twin of functions.scoring.logistic_score (reference
    README.md:9,27,77). Vectorized over Arrow batches."""
    @F.pandas_udf("double")
    def _udf(price: pd.Series, tier: pd.Series,
             pa: pd.Series) -> pd.Series:
        w0, w1, w2, w3 = DENIAL_WEIGHTS
        z = w0 + w1 * price + w2 * tier + w3 * pa.astype("int64")
        return 1.0 / (1.0 + np.exp(-z))
    return _udf


def sum_weighted_cents():
    """X3 custom aggregate: Σ round(price*100)·weight as exact int64.

    Integer arithmetic end-to-end ⇒ no float summation-order hazard, so
    a Python aggregate can still hash-match the SQL oracle.
    """
    @F.pandas_udf("long")
    def _udf(price: pd.Series, weight: pd.Series) -> int:
        cents = (price * 100).round().astype("int64")
        return int((cents * weight.astype("int64")).sum())
    return _udf


@query(
    "q_udf_score",
    oracle="""
    SELECT
      o_orderstatus,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(
        1.0 / (1.0 + exp(-(-2.0
          + 0.01 * (o_totalprice / 1000.0)
          + 0.4 * CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
          + 1.5 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)))
        AS DECIMAL(20,6))) AS DOUBLE) AS sum_score
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("X1",),
)
def q_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas_udf scoring path, decimal-quantized before aggregation
    so numpy-vs-DuckDB libm ulp drift cannot surface (compat hazard #2).
    Exists to prove the slow path still meets the correctness gate; the
    native-expression twin is q_math_score."""
    o = load(spark, sf_dir, "orders")
    score = denial_score_pandas()(
        F.col("o_totalprice") / F.lit(1000.0),
        F.substring("o_orderpriority", 1, 1).cast("int"),
        (F.col("o_orderstatus") == "F").cast("boolean"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(q(score)).cast("double").alias("sum_score"),
    )


@query(
    "q_udaf_weighted",
    oracle="""
    SELECT
      o_orderpriority,
      -- DuckDB SUM over BIGINT yields HUGEINT; cast to match Spark bigint.
      CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)
               * CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
           AS BIGINT) AS weighted_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("X3",),
)
def q_udaf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom GROUPED_AGG aggregate (X3): tier-weighted price in exact
    integer cents per priority."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("w"),
    )
    return o.groupBy("o_orderpriority").agg(
        sum_weighted_cents()(F.col("price"), F.col("w"))
        .alias("weighted_cents"),
    )


def sentence_split_udtf():
    """X2 as a REAL Python UDTF (Spark 4 ``@udtf``): one input row
    (doc_id, text) -> N sentence rows with per-sentence token counts.
    The row-expanding-parser shape (HL7 message -> segments, FHIR bundle
    -> resources) as a user-defined TABLE function rather than the
    native ``explode`` form used in the hot path (q_string_parse /
    domain/hl7.py) — this exists to complete the UDTF API surface with
    the documented slow-path pattern, not to replace the native plan."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence_idx int, sentence string, "
                     "n_tokens bigint")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF protocol
            parts = [s for s in (text or "").split(". ") if s]
            for i, s in enumerate(parts):
                yield doc_id, i, s, len([t for t in s.split(" ") if t])

    return SentenceSplit


@query(
    "q_udtf_sentences",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, '. '), x -> x <> ''))
               AS sentence
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_sentences,
           MAX(len(list_filter(string_split(sentence, ' '), x -> x <> '')))
             AS max_sentence_tokens,
           CAST(SUM(len(list_filter(string_split(sentence, ' '),
                                    x -> x <> ''))) AS BIGINT)
             AS total_tokens
    FROM s GROUP BY doc_id
    """,
    tags=("X2", "udtf", "slow-path"),
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents exploded to sentences through the Python UDTF, then
    rolled up per doc — deterministic string logic, so even the
    through-Python path hash-matches the SQL oracle. The native explode
    equivalent is the production form; this query certifies the UDTF
    slow path produces identical results (empty docs yield no rows in
    both engines)."""
    spark.udtf.register("sentence_split", sentence_split_udtf())
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return spark.sql("""
        SELECT s.doc_id,
               count(*) AS n_sentences,
               max(s.n_tokens) AS max_sentence_tokens,
               sum(s.n_tokens) AS total_tokens
        FROM {docs} d,
             LATERAL sentence_split(d.doc_id, d.text) s
        GROUP BY s.doc_id
    """, docs=docs)


@query(
    "q_udf_sql",
    oracle="""
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(
        1.0 / (1.0 + exp(-(-2.0
          + 0.01 * (o_totalprice / 1000.0)
          + 0.4 * CAST(substr(o_orderpriority, 1, 1) AS INTEGER))))
        AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("X9", "sql-udf"),
)
def q_udf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED SCALAR FUNCTION (Spark 4 ``CREATE FUNCTION ...
    RETURN expr``): the denial-risk logistic declared ONCE as a SQL UDF
    and reused by name — the engine-native way to share rule
    expressions across queries (the reference's ``app/ml/denial.py``
    helper, README.md:27,77, as a catalog object instead of Python).
    Unlike Python UDFs, a SQL UDF inlines into the plan at analysis
    time: the aggregate below whole-stage-codegens exactly as if the
    expression were written inline — zero serialization wall, proven by
    the oracle matching the inlined arithmetic bit-for-bit (score
    decimal-quantized before the sum, compat hazard 2)."""
    from .. import io

    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION denial_risk(
            price DOUBLE, tier INT) RETURNS DOUBLE
        RETURN 1.0 / (1.0 + exp(-(-2.0 + 0.01 * (price / 1000.0)
                                  + 0.4 * tier)))
    """)
    return io.sql(spark, sf_dir, """
        SELECT
          o_orderpriority,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(denial_risk(
                 o_totalprice,
                 CAST(substr(o_orderpriority, 1, 1) AS INT))
               AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
        FROM orders
        GROUP BY o_orderpriority
    """)


# ---- pandas API on Spark (the DataFrame-API bridge surface) --------------


@query(
    "q_api_pandas",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(l_quantity) AS BIGINT) AS n,
           MIN(l_quantity) AS qmin,
           MAX(l_quantity) AS qmax
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("X1", "pandas-api"),
)
def q_api_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PANDAS API ON SPARK round trip: the same grouped aggregate a
    pandas user writes (``groupby().agg(named tuples)``), executed as
    a Catalyst plan via ``DataFrame.pandas_api()`` and handed back with
    ``to_spark()`` — the migration bridge for notebook workloads coming
    off single-node pandas. Count/min/max stay order-insensitive so the
    hash gate applies; the point under the gate is that the pandas
    SYNTAX compiled to the same distributed plan (no collect, no driver
    pandas — assert: this function never materializes locally)."""
    from ..io import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity")
    out = (li.pandas_api()
           .groupby("l_returnflag")
           .agg(n=("l_quantity", "count"),
                qmin=("l_quantity", "min"),
                qmax=("l_quantity", "max")))
    return (out.reset_index().to_spark()
            .select("l_returnflag", F.col("n").cast("bigint").alias("n"),
                    "qmin", "qmax"))


# ---- SQL scripting (Spark 4 BEGIN/END procedural surface) ----------------


@query(
    "q_sql_scripting",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    HAVING COUNT(*) > (
      SELECT AVG(n) FROM (
        SELECT COUNT(*) AS n FROM events GROUP BY event_type))
    """,
    tags=("X4", "sql-scripting"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 ``BEGIN…END``): the above-average-types
    report written PROCEDURALLY — a declared variable captures the
    mean group size in one statement, the next statement filters with
    it — the migration surface for stored-procedure workloads
    (PL/SQL, T-SQL) whose logic arrives as scripts, not single
    queries. Semantically identical to the oracle's correlated
    subquery form (which is how a Spark-first rewrite would phrase
    it); the scripting value is that multi-statement control flow
    (DECLARE/SET/IF/WHILE) now parses and plans natively instead of
    being orchestrated from Python. Scripting parses by default on
    Spark 4.1, so no session conf is touched; the events relation is
    bound as a ``spark.sql`` DataFrame argument, not a session view.
    Plans are ordinary Catalyst plans."""
    return spark.sql("""
    BEGIN
      DECLARE avg_n DOUBLE DEFAULT 0.0;
      SET avg_n = (SELECT AVG(n) FROM (
        SELECT COUNT(*) AS n FROM {ev} GROUP BY event_type));
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM {ev}
      GROUP BY event_type
      HAVING COUNT(*) > avg_n;
    END
    """, ev=load(spark, sf_dir, "events"))
