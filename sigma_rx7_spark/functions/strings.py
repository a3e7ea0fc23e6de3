"""String normalization and parsing (SURVEY.md §2.8 F1-F2).

Reference capability: normalize free-text drug names before RxNorm code
matching (reference README.md:3,7) and split HL7 v2 pipe/caret-delimited
segments into fields (README.md:3,76 ``etl/loaders.py``).

Spark-first: every function here is a built-in Catalyst expression
(``lower/trim/regexp_*/split``) — whole-stage-codegen'd JVM code, no
Python in the row path. The HL7-specific composite parser lives in
``domain/hl7.py``; this module exercises the primitive family on the
harness tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load
from ..registry import query


@query(
    "q_string_funcs",
    oracle="""
    SELECT
      p_partkey,
      lower(trim(p_name)) AS norm_name,
      upper(p_type) AS type_uc,
      length(p_name) AS name_len,
      substr(p_name, 1, 3) AS name_prefix,
      regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
      concat(p_brand, ':', p_type) AS brand_type
    FROM part
    """,
    tags=("F1",),
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization primitive family (lower/trim/length/substr/replace/
    concat) — the RxNorm name-matching prep (README.md:7)."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.trim("p_name")).alias("norm_name"),
        F.upper("p_type").alias("type_uc"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 3).alias("name_prefix"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type"))
        .alias("brand_type"),
    )


@query(
    "q_string_parse",
    oracle="""
    SELECT
      p_partkey,
      string_split(p_name, ' ')[1] AS color,
      string_split(p_name, ' ')[2] AS object,
      CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS BIGINT)
        AS brand_num,
      len(string_split(p_name, ' ')) AS n_fields
    FROM part
    """,
    tags=("F2", "S3"),
)
def q_string_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-field parsing (split + indexed access + regexp group
    extraction) — the HL7 segment/field split shape (README.md:3,76)."""
    p = load(spark, sf_dir, "part")
    fields = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        fields.getItem(0).alias("color"),
        fields.getItem(1).alias("object"),
        F.regexp_extract("p_brand", r"Brand#([0-9]+)", 1).cast("bigint")
        .alias("brand_num"),
        F.size(fields).cast("bigint").alias("n_fields"),
    )


@query(
    "q_string_fuzzy",
    oracle="""
    SELECT a.p_partkey AS a_partkey,
           b.p_partkey AS b_partkey,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 10
    """,
    tags=("F1", "fuzzy"),
)
def q_string_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name matching — the RxNorm-normalization fallback when
    codes are missing (README.md:3,7): blocked candidate pairs (same
    brand + size, the blocking key bounding the pair space) scored by
    Levenshtein edit distance. Same shape as the dedup verification
    stage: block first, score exactly inside blocks — never all-pairs."""
    p = load(spark, sf_dir, "part")
    a = p.select(F.col("p_partkey").alias("a_partkey"), "p_brand",
                 "p_size", F.col("p_name").alias("a_name"))
    b = p.select(F.col("p_partkey").alias("b_partkey"),
                 F.col("p_brand").alias("b_brand"),
                 F.col("p_size").alias("b_size"),
                 F.col("p_name").alias("b_name"))
    dist = F.levenshtein("a_name", "b_name")
    return (
        a.join(b, (F.col("p_brand") == F.col("b_brand"))
               & (F.col("p_size") == F.col("b_size"))
               & (F.col("a_partkey") < F.col("b_partkey")))
        .where(dist <= 10)
        .select("a_partkey", "b_partkey", dist.alias("edit_dist"))
    )


# PII masking patterns: digit runs (ids / phone fragments / account
# numbers) and email-shaped tokens. Character classes only — identical
# semantics in Java regex (Spark) and RE2 (DuckDB).
PII_NUM = "[0-9]+"
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"


@query(
    "q_text_pii_scrub",
    oracle=f"""
    SELECT
      event_id,
      regexp_replace(regexp_replace(props, '{PII_EMAIL}', '<EMAIL>', 'g'),
                     '{PII_NUM}', '<NUM>', 'g') AS props_masked,
      len(regexp_extract_all(props, '{PII_NUM}')) AS n_num_masked,
      len(regexp_extract_all(props, '{PII_EMAIL}')) AS n_email_masked
    FROM events
    """,
    tags=("L3", "pii"),
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass over semi-structured payloads: mask
    email-shaped tokens then digit runs, and count the redactions per
    record — the masking stage every training-data pipeline runs before
    a corpus leaves staging. Pure ``regexp_replace``/``regexp_extract_all``
    column expressions (codegen'd, zero shuffle) so at 100 TB it runs at
    scan speed and the redaction counts aggregate for an audit report."""
    e = load(spark, sf_dir, "events")
    masked = F.regexp_replace(
        F.regexp_replace("props", PII_EMAIL, "<EMAIL>"), PII_NUM, "<NUM>")
    return e.select(
        "event_id",
        masked.alias("props_masked"),
        F.size(F.regexp_extract_all("props", F.lit(PII_NUM), F.lit(0)))
        .cast("bigint").alias("n_num_masked"),
        F.size(F.regexp_extract_all("props", F.lit(PII_EMAIL), F.lit(0)))
        .cast("bigint").alias("n_email_masked"),
    )


# ---- Collation-aware grouping (Spark 4 COLLATE surface) ------------------


@query(
    "q_string_collation",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN upper(event_type)
                  ELSE event_type END AS etv
      FROM events
    )
    SELECT lower(min(etv)) AS key_lc,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT etv) AS BIGINT) AS n_case_variants
    FROM t
    GROUP BY lower(etv)
    """,
    tags=("F1", "collation"),
)
def q_string_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-INSENSITIVE GROUPING via Spark 4 COLLATIONS: mixed-case
    feed values (a third of rows upper-cased, the classic multi-source
    ingest mess) grouped under ``UTF8_LCASE`` so equivalence lives in
    the COLUMN'S TYPE rather than scattered lower() calls — at 100 TB
    the difference is that every downstream join/group on the column
    inherits the semantics instead of each query re-normalizing (and
    one forgotten lower() silently forking a group). The displayed key
    is normalized via lower(min(raw)) because a collation group's
    representative is whichever variant an engine meets first — the
    kind of nondeterminism the gate exists to catch. Oracle: DuckDB
    groups by lower(), the semantics UTF8_LCASE guarantees for ASCII
    feeds."""
    ev = load(spark, sf_dir, "events")
    t = ev.select(
        F.when(F.col("event_id") % 3 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type")).alias("etv"))
    return (
        t.groupBy(F.collate("etv", "UTF8_LCASE").alias("_ck"))
        .agg(F.lower(F.min("etv")).alias("key_lc"),
             F.count(F.lit(1)).cast("bigint").alias("n_events"),
             F.countDistinct("etv").cast("bigint")
             .alias("n_case_variants"))
        .drop("_ck")
    )
