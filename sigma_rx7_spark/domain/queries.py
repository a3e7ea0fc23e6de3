"""Harness exposure of the clinical domain pipeline.

The domain tables are engine-generated fixtures (domain/fixtures.py, the
reference's bootstrap seeding — README.md:36,55-58,75). To make the E1
recommendation pipeline hash-gateable, the query stages the fixtures to
parquet first and BOTH engines read the staged files: Spark runs the
DataFrame rules (domain/rules.py), the DuckDB oracle runs the SQL mirror
below over ``read_parquet`` of the same paths. The logistic score passes
through a transcendental (`exp`), so it is decimal-quantized at 6 dp on
both sides per the compat.py convention before comparison.

The FHIR export is hash-gated through the serialized text: JSON
formatting (key order, spacing) is engine-specific by nature, so the
query re-extracts every scalar leaf from the ``to_json`` output and the
oracle mirrors the leaves in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import staging
from ..io import read_staged
from ..registry import query
from . import fixtures, hl7, rules
from .fhir import RXNORM_SYSTEM, export_medication_requests

_STAGED_TABLES = ("meds", "orange_book", "prices", "coverage", "formulary",
                  "allergies", "conditions")


def stage_domain_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Write the deterministic fixtures to parquet and read them back, so
    the Spark pipeline and the DuckDB oracle consume identical bytes.
    The stamp hashes the whole fixtures MODULE (every staged table comes
    from build_domain_tables and its file-level constants).

    The read-back goes through ``io.read_staged``, memoized per session:
    composed queries (the alert inbox unions four rule pipelines in ONE
    plan) share one set of scans, and a new session reads its own."""
    def build(path: str) -> None:
        tables = fixtures.build_domain_tables(spark)
        for t in _STAGED_TABLES:
            tables[t].coalesce(1).write.mode("overwrite") \
                .parquet(os.path.join(path, t))
    root = staging.stage("domain", None, build, code=(fixtures,),
                         parts=_STAGED_TABLES)
    return {t: read_staged(spark, os.path.join(root, t))
            for t in _STAGED_TABLES}


def _p(table: str) -> str:
    return f"read_parquet('{staging.path('domain')}/{table}/*.parquet')"


# Brand→generic substitution CTEs, shared by the recommendation and the
# FHIR-export oracles (both mirror rules.generic_substitutions).
_SUBS_CTES = f"""
meds AS (SELECT * FROM {_p('meds')}),
ob AS (SELECT * FROM {_p('orange_book')} WHERE te_code = 'AB'),
prices AS (SELECT * FROM {_p('prices')}),
cand AS (
  SELECT m.med_id, m.patient_id, m.drug_name, m.rxcui, m.start_date,
         ob.generic_rxcui
  FROM meds m JOIN ob ON m.rxcui = ob.brand_rxcui
  WHERE m.is_brand
),
bp AS (
  SELECT rxcui, as_of_date, price AS brand_price FROM (
    SELECT k.rxcui, k.as_of_date, p.price,
           ROW_NUMBER() OVER (PARTITION BY k.rxcui, k.as_of_date
                              ORDER BY p.effective_date DESC) AS rn
    FROM (SELECT DISTINCT rxcui, start_date AS as_of_date FROM cand) k
    JOIN prices p
      ON p.rxcui = k.rxcui AND p.effective_date <= k.as_of_date
  ) WHERE rn = 1
),
gp AS (
  SELECT rxcui AS generic_rxcui, as_of_date, price AS generic_price FROM (
    SELECT k.rxcui, k.as_of_date, p.price,
           ROW_NUMBER() OVER (PARTITION BY k.rxcui, k.as_of_date
                              ORDER BY p.effective_date DESC) AS rn
    FROM (SELECT DISTINCT generic_rxcui AS rxcui,
                 start_date AS as_of_date FROM cand) k
    JOIN prices p
      ON p.rxcui = k.rxcui AND p.effective_date <= k.as_of_date
  ) WHERE rn = 1
),
subs_won AS (
  SELECT * FROM (
    SELECT c.*, bp.brand_price, gp.generic_price,
           ROW_NUMBER() OVER (PARTITION BY c.med_id
                              ORDER BY gp.generic_price,
                                       c.generic_rxcui) AS rn
    FROM cand c
    JOIN bp ON c.rxcui = bp.rxcui AND c.start_date = bp.as_of_date
    JOIN gp ON c.generic_rxcui = gp.generic_rxcui
           AND c.start_date = gp.as_of_date
  ) WHERE rn = 1 AND generic_price < brand_price
)"""

_RECS_ORACLE = f"""
WITH {_SUBS_CTES},
coverage AS (SELECT * FROM {_p('coverage')}),
formulary AS (SELECT * FROM {_p('formulary')}),
dup_pairs AS (
  SELECT a.patient_id,
         'overlap' AS rec_type,
         a.med_id,
         'duplicate ' || a.drug_class || ': ' || a.drug_name
           || ' + ' || b.drug_name AS message,
         0.0 AS savings
  FROM meds a
  JOIN meds b
    ON a.patient_id = b.patient_id
   AND a.drug_class = b.drug_class
   AND a.med_id < b.med_id
   AND a.start_date <= COALESCE(b.stop_date, DATE '9999-12-31')
   AND b.start_date <= COALESCE(a.stop_date, DATE '9999-12-31')
),
subs AS (
  SELECT patient_id,
         'generic_substitution' AS rec_type,
         med_id,
         'switch ' || drug_name || ' to ' || generic_rxcui AS message,
         brand_price - generic_price AS savings
  FROM subs_won
),
scored AS (
  SELECT m.med_id,
         COALESCE(f.tier, 4) AS tier,
         COALESCE(f.prior_auth, TRUE) AS prior_auth,
         CAST(CAST(
           1.0 / (1.0 + exp(-(-2.0
             + 0.01 * m.daily_cost
             + 0.4 * COALESCE(f.tier, 4)
             + 1.5 * CASE WHEN COALESCE(f.prior_auth, TRUE)
                          THEN 1 ELSE 0 END)))
           AS DECIMAL(18,6)) AS DOUBLE) AS denial_risk
  FROM meds m
  LEFT JOIN coverage c ON m.patient_id = c.patient_id
  LEFT JOIN formulary f
    ON c.plan_id = f.plan_id AND m.rxcui = f.rxcui
),
recs AS (
  SELECT * FROM dup_pairs UNION ALL SELECT * FROM subs
)
SELECT r.patient_id, r.rec_type, r.med_id, r.message, r.savings,
       s.tier, s.prior_auth, s.denial_risk,
       ROW_NUMBER() OVER (PARTITION BY r.patient_id
                          ORDER BY r.savings DESC, r.med_id,
                                   r.rec_type, r.message) AS rank
FROM recs r LEFT JOIN scored s ON r.med_id = s.med_id
"""


@query("q_domain_recommendations", oracle=_RECS_ORACLE, tags=("domain",))
def q_domain_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E1 flow end-to-end (README.md:69-71): overlap
    alerts + generic substitutions + formulary flags + denial scores,
    ranked per patient, over the staged bootstrap fixtures. Hash-gated:
    the oracle SQL mirrors every rule over the same staged parquet, with
    the post-`exp` score quantized at 6 dp on both sides."""
    tables = stage_domain_tables(spark)
    recs = rules.recommendations(tables)
    return recs.withColumn(
        "denial_risk",
        F.col("denial_risk").cast("decimal(18,6)").cast("double"))


_EXPORT_ORACLE = f"""
WITH {_SUBS_CTES}
SELECT
  patient_id,
  med_id,
  'MedicationRequest' AS resource_type,
  'draft' AS status,
  'proposal' AS intent,
  '{RXNORM_SYSTEM}' AS coding_system,
  CAST(generic_rxcui AS VARCHAR) AS coding_code,
  drug_name || ' (generic)' AS coding_display,
  'Patient/' || CAST(patient_id AS VARCHAR) AS subject_ref
FROM subs_won
"""


@query("q_domain_fhir_export", oracle=_EXPORT_ORACLE, tags=("domain",))
def q_domain_fhir_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Draft FHIR MedicationRequest export (README.md:10,29,71) for every
    substitution suggestion — the reference's E3 entry point, hash-gated.

    The JSON text itself is engine-specific, so the comparison goes
    through the serialized string: Spark builds the nested resource,
    serializes with ``to_json`` (export_medication_requests — the real
    E3 path), then re-extracts every scalar leaf from that string with
    ``get_json_object``; the oracle computes the same leaves from the
    mirrored substitution CTEs over the staged fixtures. A lost field,
    wrong nesting, or mangled value in the export breaks the gate."""
    tables = stage_domain_tables(spark)
    subs = rules.generic_substitutions(
        tables["meds"], tables["orange_book"], tables["prices"])
    exported = export_medication_requests(subs)
    j = F.col("fhir_json")
    return exported.select(
        "patient_id",
        "med_id",
        F.get_json_object(j, "$.resourceType").alias("resource_type"),
        F.get_json_object(j, "$.status").alias("status"),
        F.get_json_object(j, "$.intent").alias("intent"),
        F.get_json_object(j, "$.medicationCodeableConcept.coding[0].system")
        .alias("coding_system"),
        F.get_json_object(j, "$.medicationCodeableConcept.coding[0].code")
        .alias("coding_code"),
        F.get_json_object(
            j, "$.medicationCodeableConcept.coding[0].display")
        .alias("coding_display"),
        F.get_json_object(j, "$.subject.reference").alias("subject_ref"),
    )


_BUNDLE_ORACLE = f"""
WITH {_SUBS_CTES}
SELECT c.patient_id,
       CAST(c.med_id AS VARCHAR) AS source_id,
       'draft' AS status,
       CAST(c.generic_rxcui AS VARCHAR) AS rxcui,
       c.drug_name || ' (generic)' AS drug_name,
       c.start_date AS authored_on,
       CAST(COUNT(*) OVER (PARTITION BY c.patient_id) AS BIGINT)
         AS n_in_bundle
FROM subs_won c
"""


@query("q_domain_fhir_bundle", oracle=_BUNDLE_ORACLE, tags=("domain",))
def q_domain_fhir_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FHIR BUNDLE round-trip (README.md:10,29): every substitution
    suggestion exported as a per-patient ``Bundle`` of draft
    ``MedicationRequest`` resources — array-of-struct nesting through
    ``to_json`` — then parsed BACK with the explicit ``from_json``
    Bundle schema + entry explode, and every scalar leaf (id, status,
    coding code/display, subject reference, authoredOn, entry count)
    re-extracted from the parsed structs. The oracle computes the same
    leaves relationally from the mirrored substitution CTEs: a lost
    entry, mangled nesting, or dropped field on EITHER leg of the
    round trip breaks the gate. This is the batch-export twin of
    q_domain_fhir_export (single resources) and closes the [D]-tagged
    bundle surface.

    Scale shape: one hash shuffle on patient_id builds the bundles
    (bounded arrays — prescriptions per patient, not corpus-sized);
    serialize + parse are codegen'd per-row expressions, no Python."""
    from .fhir import BUNDLE_SCHEMA, export_bundles

    tables = stage_domain_tables(spark)
    subs = rules.generic_substitutions(
        tables["meds"], tables["orange_book"], tables["prices"])
    # authoredOn = the prescription's start_date (subs drops it; med_id
    # is the meds PK, so this broadcast lookup is loss- and dup-free).
    subs = subs.join(
        F.broadcast(tables["meds"].select("med_id", "start_date")),
        "med_id")
    bundles = export_bundles(subs)
    parsed = bundles.select(
        F.from_json("bundle_json", BUNDLE_SCHEMA).alias("b"))
    ex = parsed.select(
        F.size("b.entry").cast("bigint").alias("n_in_bundle"),
        F.explode("b.entry").alias("entry"),
    ).select("n_in_bundle", F.col("entry.resource").alias("r"))
    coding0 = F.element_at("r.medicationCodeableConcept.coding", 1)
    return ex.select(
        F.regexp_extract("r.subject.reference", r"Patient/(\d+)", 1)
        .cast("long").alias("patient_id"),
        F.col("r.id").alias("source_id"),
        F.col("r.status").alias("status"),
        coding0.getField("code").alias("rxcui"),
        coding0.getField("display").alias("drug_name"),
        F.to_date("r.authoredOn").alias("authored_on"),
        "n_in_bundle",
    )


# ---------------------------------------------------------------------------
# HL7 v2 multi-segment round-trip (S3/X2 depth — README.md:3,76).
#
# build_messages renders the staged med rows as deterministic RDE^O11-style
# messages (MSH + PID + per-prescription RXE segments), so the parse path
# can be hash-gated without external message files: the oracle is plain SQL
# over the same staged meds parquet — if the renderer and the parser agree
# with it, the round-trip is lossless.

_HL7_ROUNDTRIP_ORACLE = f"""
SELECT patient_id,
       rxcui,
       drug_name,
       CAST(med_id AS VARCHAR) || '^daily' AS dose_spec
FROM {_p('meds')}
"""


@query("q_domain_hl7_roundtrip", oracle=_HL7_ROUNDTRIP_ORACLE,
       tags=("domain", "S3"))
def q_domain_hl7_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 beyond the single-split demo: render staged meds as
    multi-segment HL7 messages, then run the NATIVE ingest path
    (explode segments → parse PID/RXE → join per-message) and compare
    the typed med rows against SQL over the original staged table.
    All split/getItem column expressions — one codegen'd projection,
    no Python in the plan."""
    tables = stage_domain_tables(spark)
    messages = hl7.build_messages(tables["meds"])
    return hl7.hl7_to_meds(messages)


_HL7_UDTF_ORACLE = f"""
SELECT patient_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY patient_id
                               ORDER BY med_id) - 1 AS INTEGER) AS rxe_idx,
       med_id,
       rxcui,
       drug_name
FROM {_p('meds')}
"""


@query("q_domain_hl7_udtf", oracle=_HL7_UDTF_ORACLE,
       tags=("domain", "X2", "udtf", "slow-path"))
def q_domain_hl7_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 over MULTI-SEGMENT messages through the Spark 4 ``@udtf``
    LATERAL slow path: one message row → one row per RXE segment with
    the patient id carried from the message's PID — per-message parse
    state a bare explode cannot express without a join. The native join
    form (q_domain_hl7_roundtrip) is the production path; this certifies
    the UDTF API against the same staged-meds oracle, including the
    within-message RXE ordering (rxe_idx mirrors a per-patient
    ROW_NUMBER over med_id)."""
    tables = stage_domain_tables(spark)
    spark.udtf.register("hl7_meds", hl7.hl7_meds_udtf())
    return spark.sql("""
        SELECT m.patient_id, m.rxe_idx, m.med_id, m.rxcui, m.drug_name
        FROM {msgs} msg, LATERAL hl7_meds(msg.message) m
    """, msgs=hl7.build_messages(tables["meds"]))


_ALLERGY_ORACLE = f"""
WITH cmap(substance, drug_class) AS (
  VALUES ('sulfa', 'sulfonylurea'), ('penicillin', 'penicillin_class')
)
SELECT m.patient_id, m.med_id, m.drug_name, m.drug_class,
       a.substance, a.severity,
       CASE WHEN a.severity = 'severe' THEN 'block' ELSE 'warn' END
         AS alert_level
FROM {_p('meds')} m
JOIN {_p('allergies')} a ON a.patient_id = m.patient_id
JOIN cmap c
  ON c.substance = a.substance AND c.drug_class = m.drug_class
"""


@query("q_domain_allergy_alerts", oracle=_ALLERGY_ORACLE, tags=("domain",))
def q_domain_allergy_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allergy contraindication screen — the capability the reference
    stores the allergies table FOR (README.md:7): meds cross-checked
    against same-patient allergies through a substance→class
    cross-sensitivity map (sulfonamide rule), severe allergies escalated
    to 'block'. Joins: literal broadcast map ⋈ patient-keyed allergies
    ⋈ meds — the med fact table never shuffles."""
    tables = stage_domain_tables(spark)
    return rules.allergy_alerts(tables["meds"], tables["allergies"])


_POLY_ORACLE = f"""
WITH ev AS (
  SELECT patient_id, med_id, start_date AS ev_date, 1 AS delta
  FROM {_p('meds')}
  UNION ALL
  SELECT patient_id, med_id, stop_date + 1 AS ev_date, -1 AS delta
  FROM {_p('meds')} WHERE stop_date IS NOT NULL
), cum AS (
  SELECT patient_id,
         SUM(delta) OVER (PARTITION BY patient_id
                          ORDER BY ev_date, delta, med_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM ev
), mx AS (
  SELECT patient_id, CAST(MAX(cum) AS INTEGER) AS max_concurrent
  FROM cum GROUP BY patient_id
)
SELECT m.patient_id, COUNT(*) AS n_meds, mx.max_concurrent,
       mx.max_concurrent >= {rules.POLYPHARMACY_MIN} AS is_polypharmacy
FROM {_p('meds')} m JOIN mx ON m.patient_id = mx.patient_id
GROUP BY m.patient_id, mx.max_concurrent
"""


@query("q_domain_polypharmacy", oracle=_POLY_ORACLE, tags=("domain",))
def q_domain_polypharmacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrency polypharmacy screen: the population-wide form of
    the therapeutic-duplication rule (README.md:3,9,23) — a sweep line
    over prescription start/stop events instead of a pairwise self-join,
    so cost is O(n log n) per patient and the answer is "how MANY meds
    were simultaneously active", not just "which pairs overlap"."""
    tables = stage_domain_tables(spark)
    return rules.polypharmacy(tables["meds"])


_PDC_ORACLE = f"""
WITH base AS (
  SELECT patient_id, drug_class, med_id, start_date AS s,
         LEAST(COALESCE(stop_date, DATE '9999-12-31'),
               DATE '{rules.OBS_END}') AS e
  FROM {_p('meds')}
), flagged AS (
  SELECT patient_id, drug_class, s, e,
         CASE WHEN MAX(e) OVER (
                PARTITION BY patient_id, drug_class
                ORDER BY s, e, med_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              IS NULL
              OR s > MAX(e) OVER (
                PARTITION BY patient_id, drug_class
                ORDER BY s, e, med_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS new_island,
         med_id
  FROM base
), numbered AS (
  SELECT patient_id, drug_class, s, e,
         SUM(new_island) OVER (PARTITION BY patient_id, drug_class
                               ORDER BY s, e, med_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), islands AS (
  SELECT patient_id, drug_class, island,
         date_diff('day', MIN(s), MAX(e)) + 1 AS covered
  FROM numbered GROUP BY patient_id, drug_class, island
), per_class AS (
  SELECT patient_id, drug_class, COUNT(*) AS n_meds,
         date_diff('day', MIN(s), MAX(e)) + 1 AS period_days
  FROM base GROUP BY patient_id, drug_class
), summed AS (
  SELECT patient_id, drug_class,
         CAST(COUNT(*) AS INTEGER) AS n_islands,
         CAST(SUM(covered) AS BIGINT) AS covered_days
  FROM islands GROUP BY patient_id, drug_class
)
SELECT p.patient_id, p.drug_class, p.n_meds, s.n_islands, s.covered_days,
       CAST(p.period_days AS BIGINT) AS period_days,
       CAST(s.covered_days AS DOUBLE) / CAST(p.period_days AS DOUBLE)
         AS pdc,
       CAST(s.covered_days AS DOUBLE) / CAST(p.period_days AS DOUBLE)
         >= {rules.PDC_ADHERENT} AS is_adherent
FROM per_class p
JOIN summed s
  ON p.patient_id = s.patient_id AND p.drug_class = s.drug_class
"""


@query("q_domain_adherence", oracle=_PDC_ORACLE, tags=("domain",))
def q_domain_adherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportion-of-days-covered adherence per (patient, drug class):
    prescription intervals merged into maximal covered islands
    (gaps-and-islands interval UNION — refill overlaps never
    double-count), covered days divided by the class's observation
    period, flagged at the standard 0.8 threshold. The longitudinal
    "clinical history" measure (README.md:3) the duplication and
    substitution rules feed into."""
    tables = stage_domain_tables(spark)
    return rules.adherence_pdc(tables["meds"])


_GAP_ORACLE = f"""
WITH cmap(icd10, indicated_class) AS (
  VALUES {', '.join(repr(t) for t in rules.GUIDELINE_MAP)}
), med_classes AS (
  SELECT DISTINCT patient_id, drug_class AS indicated_class
  FROM {_p('meds')}
)
SELECT c.patient_id, c.icd10,
       COUNT(*) AS n_indicated_classes,
       CAST(SUM(CASE WHEN m.patient_id IS NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS n_covered_classes,
       SUM(CASE WHEN m.patient_id IS NULL THEN 0 ELSE 1 END) = 0
         AS care_gap
FROM {_p('conditions')} c
JOIN cmap ON cmap.icd10 = c.icd10
LEFT JOIN med_classes m
  ON m.patient_id = c.patient_id
 AND m.indicated_class = cmap.indicated_class
GROUP BY c.patient_id, c.icd10
"""


@query("q_domain_treatment_gap", oracle=_GAP_ORACLE, tags=("domain",))
def q_domain_treatment_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Care-gap screen over the conditions table (the one entity table
    the other domain rules don't touch — README.md:7): each diagnosis
    joined to its guideline-indicated drug classes, flagged when the
    patient has NO prescription in any of them. Complements
    q_domain_recommendations' overlap rule (too much therapy) with the
    too-little direction."""
    tables = stage_domain_tables(spark)
    return rules.treatment_gaps(tables["conditions"], tables["meds"])


@query(
    "q_domain_drug_eras",
    oracle=f"""
    WITH meds AS (SELECT * FROM {_p('meds')}),
    {rules.ERA_ORACLE}
    SELECT patient_id, drug_class, CAST(era_seq AS INT) AS era_seq,
           MIN(start_date) AS era_start,
           CAST(MAX(end_date) AS DATE) AS era_end,
           CAST(COUNT(*) AS BIGINT) AS n_meds,
           CAST(date_diff('day', MIN(start_date), MAX(end_date)) + 1
                AS INT) AS era_days
    FROM seq
    GROUP BY patient_id, drug_class, era_seq
    """,
    tags=("domain", "W8", "interval"),
)
def q_domain_drug_eras(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OMOP-style drug-era build over the meds table: continuous
    exposure eras per (patient, drug class) with a 30-day persistence
    window — the longitudinal exposure primitive behind duplicate-
    therapy screens (reference README.md:3,23's overlap family) and
    adherence analytics, constructed with the running-max
    gaps-and-islands rewrite (containment-safe, single shuffle; see
    rules.drug_eras)."""
    tables = stage_domain_tables(spark)
    return rules.drug_eras(tables["meds"])


@query(
    "q_domain_therapy_gaps",
    oracle=f"""
    WITH meds AS (SELECT * FROM {_p('meds')}),
    {rules.ERA_ORACLE}, eras AS (
      SELECT patient_id, drug_class, era_seq,
             MIN(start_date) AS era_start,
             MAX(end_date) AS era_end
      FROM seq GROUP BY patient_id, drug_class, era_seq
    ), gaps AS (
      SELECT patient_id, drug_class,
             date_diff('day',
               LAG(era_end) OVER (PARTITION BY patient_id, drug_class
                                  ORDER BY era_seq),
               era_start) AS gap_days
      FROM eras
    )
    SELECT patient_id, drug_class,
           CAST(COUNT(*) + 1 AS INT) AS n_eras,
           CAST(MAX(gap_days) AS INT) AS max_gap_days,
           CAST(SUM(gap_days) AS BIGINT) AS total_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY patient_id, drug_class
    """,
    tags=("domain", "W8", "interval"),
)
def q_domain_therapy_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THERAPY INTERRUPTIONS: for every (patient, class) with more than
    one drug era, the count of eras and the longest / total gap between
    consecutive eras — the persistence-failure view built ON TOP of the
    era construction (reference README.md:3's longitudinal history):
    q_domain_adherence asks "what fraction of days were covered",
    this asks "how many times did therapy STOP, and for how long" —
    the restart-pattern a step-therapy or abandonment review reads.
    One more window + aggregate over the ERA relation (eras ≪ meds);
    the era build's single (patient, class) partitioning is reused end
    to end — no new shuffle key anywhere."""
    from pyspark.sql import Window

    tables = stage_domain_tables(spark)
    eras = rules.drug_eras(tables["meds"])
    w = Window.partitionBy("patient_id", "drug_class").orderBy("era_seq")
    gaps = eras.select(
        "patient_id", "drug_class",
        F.datediff("era_start",
                   F.lag("era_end").over(w)).alias("gap_days"))
    return (
        gaps.where(F.col("gap_days").isNotNull())
        .groupBy("patient_id", "drug_class")
        .agg((F.count(F.lit(1)) + 1).cast("int").alias("n_eras"),
             F.max("gap_days").cast("int").alias("max_gap_days"),
             F.sum("gap_days").cast("bigint").alias("total_gap_days"))
    )


@query(
    "q_domain_refill_due",
    oracle=f"""
    WITH meds AS (SELECT * FROM {_p('meds')}),
    {rules.ERA_ORACLE}, eras AS (
      SELECT patient_id, drug_class,
             MIN(start_date) AS era_start,
             MAX(end_date) AS era_end,
             ROW_NUMBER() OVER (PARTITION BY patient_id, drug_class
                                ORDER BY era_seq DESC) AS rn_last
      FROM seq GROUP BY patient_id, drug_class, era_seq
    ), horizon AS (
      SELECT MAX(CAST(end_date AS DATE)) AS today FROM m
    )
    SELECT patient_id, drug_class,
           CAST(era_end AS DATE) AS last_supply_end,
           CAST(date_diff('day', CAST(era_end AS DATE),
                          (SELECT today FROM horizon)) AS INT)
             AS days_since_supply,
           date_diff('day', CAST(era_end AS DATE),
                     (SELECT today FROM horizon)) > 0 AS overdue
    FROM eras
    WHERE rn_last = 1
      AND date_diff('day', CAST(era_end AS DATE),
                    (SELECT today FROM horizon)) > -30
    """,
    tags=("domain", "W8", "refill"),
)
def q_domain_refill_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFILL WORKLIST: for every (patient, class), the LATEST exposure
    era's supply end, days elapsed against the corpus horizon (max
    supply date — the deterministic stand-in for "today"), and an
    overdue flag; the list keeps rows inside a 30-day lookahead — the
    actionable output the era machinery exists to feed (outreach
    before therapy lapses, reference README.md:3's adherence
    mission). One more window over the ERA relation to take each
    pair's last era; the horizon is a 1-row broadcast."""
    from pyspark.sql import Window

    tables = stage_domain_tables(spark)
    meds = tables["meds"]
    eras = rules.drug_eras(meds)
    w = Window.partitionBy("patient_id", "drug_class").orderBy(
        F.col("era_seq").desc())
    last = eras.withColumn("rn_last", F.row_number().over(w)) \
        .where(F.col("rn_last") == 1)
    horizon = meds.select(
        F.coalesce(F.col("stop_date"),
                   F.date_add(F.col("start_date"), rules.ERA_GAP_DAYS))
        .alias("e")
    ).agg(F.max("e").alias("today"))
    days = F.datediff(F.col("today"), F.col("era_end"))
    return (
        last.crossJoin(F.broadcast(horizon))
        .where(days > -30)
        .select("patient_id", "drug_class",
                F.col("era_end").alias("last_supply_end"),
                days.cast("int").alias("days_since_supply"),
                (days > 0).alias("overdue"))
    )


# ---- Unified alert inbox summary -----------------------------------------

# Composed AT IMPORT TIME from the already-registered rule queries'
# own oracle texts — the aggregate can never drift from the rules it
# summarizes, because it IS them.
from ..registry import _REGISTRY as _REG  # noqa: E402

_INBOX_PARTS = (
    ("allergy_alert", "q_domain_allergy_alerts"),
    ("care_gap", "q_domain_treatment_gap"),
    ("refill_overdue", "q_domain_refill_due"),
    ("recommendation", "q_domain_recommendations"),
)

_INBOX_FILTERS = {
    "care_gap": "WHERE care_gap",
    "refill_overdue": "WHERE overdue",
}


def _inbox_oracle() -> str:
    parts = []
    for tag, name in _INBOX_PARTS:
        sub = _REG[name].oracle
        flt = _INBOX_FILTERS.get(tag, "")
        parts.append(
            f"SELECT '{tag}' AS alert_type, "
            f"CAST(COUNT(*) AS BIGINT) AS n_alerts, "
            f"CAST(COUNT(DISTINCT patient_id) AS BIGINT) AS n_patients "
            f"FROM ({sub}) {flt}")
    return "\nUNION ALL\n".join(parts)


@query("q_domain_alert_inbox", oracle=_inbox_oracle(),
       tags=("domain", "inbox"))
def q_domain_alert_inbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFIED ALERT INBOX: one summary row per alert family — allergy
    contraindications, care gaps, overdue refills, and actionable
    recommendations — with alert and distinct-patient counts: the
    feed the reference's clinician UI presents (README.md:69-71's
    alert/recommendation views), here as the engine-side aggregate
    those views page over. Both sides are COMPOSED from the registered
    rule queries themselves (Spark: each family's DataFrame counted
    and unioned in one plan; oracle: the same four oracle texts
    wrapped and unioned at import time), so the inbox cannot drift
    from the rules it summarizes."""
    fams = {
        "allergy_alert": q_domain_allergy_alerts(spark, sf_dir),
        "care_gap": q_domain_treatment_gap(spark, sf_dir)
        .where(F.col("care_gap")),
        "refill_overdue": q_domain_refill_due(spark, sf_dir)
        .where(F.col("overdue")),
        "recommendation": q_domain_recommendations(spark, sf_dir),
    }
    out = None
    for tag, df in fams.items():
        row = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_alerts"),
            F.countDistinct("patient_id").cast("bigint")
            .alias("n_patients")
        ).select(F.lit(tag).alias("alert_type"), "n_alerts",
                 "n_patients")
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "q_domain_era_survival",
    oracle=f"""
    WITH meds AS (SELECT * FROM {_p('meds')}),
    {rules.ERA_ORACLE}, eras AS (
      SELECT patient_id, drug_class, era_seq,
             date_diff('day', MIN(start_date),
                       CAST(MAX(end_date) AS DATE)) + 1 AS era_days
      FROM seq GROUP BY patient_id, drug_class, era_seq
    ), tot AS (SELECT COUNT(*) AS n FROM eras)
    SELECT CAST(k.k AS INT) AS month_k,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_eras,
           CAST(SUM(CASE WHEN era_days >= 30 * k.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           CAST(SUM(CASE WHEN era_days >= 30 * k.k THEN 1 ELSE 0 END)
                AS DOUBLE) / (SELECT n FROM tot) AS survival
    FROM eras CROSS JOIN (SELECT unnest(range(1, 7)) AS k) k
    GROUP BY k.k
    """,
    tags=("domain", "survival"),
)
def q_domain_era_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THERAPY PERSISTENCE CURVE: the fraction of drug eras still
    running at 1..6 months of duration — the Kaplan-Meier-shaped
    persistence view ("how long do patients actually stay on therapy")
    a formulary review reads next to adherence; all eras here have
    known ends (the fixtures close every interval), so the curve is
    exact shares, not censored estimates. Era durations come from the
    shared era machinery; the curve is a 6-row explode over the ERA
    relation + one aggregate — months × eras rows, integer arithmetic,
    one division per row."""
    tables = stage_domain_tables(spark)
    eras = rules.drug_eras(tables["meds"])
    k = F.explode(F.sequence(F.lit(1), F.lit(6))).alias("month_k")
    tot = eras.agg(F.count(F.lit(1)).alias("n"))
    surv = F.when(F.col("era_days") >= 30 * F.col("month_k"), 1) \
        .otherwise(0)
    return (
        eras.select("era_days", k)
        .groupBy("month_k")
        .agg(F.sum(surv).cast("bigint").alias("n_surviving"))
        .crossJoin(F.broadcast(tot))
        .select(F.col("month_k").cast("int").alias("month_k"),
                F.col("n").cast("bigint").alias("n_eras"),
                "n_surviving",
                (F.col("n_surviving").cast("double") / F.col("n"))
                .alias("survival"))
    )


@query(
    "q_domain_price_trend",
    oracle=f"""
    WITH p AS (
      SELECT rxcui, effective_date, price,
             ROW_NUMBER() OVER (PARTITION BY rxcui
                                ORDER BY effective_date, price) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY rxcui
                                ORDER BY effective_date DESC, price DESC)
               AS rn_z,
             COUNT(*) OVER (PARTITION BY rxcui) AS n_points
      FROM {_p('prices')}
    ), fl AS (
      SELECT rxcui, n_points,
             MAX(CASE WHEN rn_a = 1 THEN price END) AS first_price,
             MAX(CASE WHEN rn_z = 1 THEN price END) AS last_price
      FROM p GROUP BY rxcui, n_points
    )
    SELECT rxcui, CAST(n_points AS INT) AS n_points,
           first_price, last_price,
           (last_price - first_price) / first_price AS pct_change,
           last_price > first_price AS increased
    FROM fl
    """,
    tags=("domain", "pricing", "trend"),
)
def q_domain_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE TREND per drug code: first vs latest published price with
    percent change — the drug-price inflation view the reference's
    pricing knowledge table exists to power (README.md:8's public
    pricing feed), and the input a substitution recommendation's
    savings column drifts with over time. First/last selection via
    total-ordered rank pairs folded in one aggregate (no self-join);
    the percent change is a single IEEE division of parquet-identical
    doubles."""
    from pyspark.sql import Window as W

    prices = stage_domain_tables(spark)["prices"]
    wa = W.partitionBy("rxcui").orderBy("effective_date", "price")
    wz = W.partitionBy("rxcui").orderBy(
        F.col("effective_date").desc(), F.col("price").desc())
    wn = W.partitionBy("rxcui")
    p = prices.select(
        "rxcui", "price",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
        F.count(F.lit(1)).over(wn).alias("n_points"))
    fl = p.groupBy("rxcui", "n_points").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("price")))
        .alias("first_price"),
        F.max(F.when(F.col("rn_z") == 1, F.col("price")))
        .alias("last_price"))
    return fl.select(
        "rxcui", F.col("n_points").cast("int").alias("n_points"),
        "first_price", "last_price",
        ((F.col("last_price") - F.col("first_price"))
         / F.col("first_price")).alias("pct_change"),
        (F.col("last_price") > F.col("first_price")).alias("increased"))


_DENIAL_QUEUE_ORACLE = f"""
WITH {_SUBS_CTES},
coverage AS (SELECT * FROM {_p('coverage')}),
formulary AS (SELECT * FROM {_p('formulary')}),
aligned AS (
  SELECT s.patient_id, s.med_id,
         CAST(s.generic_rxcui AS VARCHAR) AS rxcui,
         'draft' AS status,
         c.plan_id,
         f.tier IS NOT NULL AS on_formulary,
         COALESCE(f.tier, 4) AS tier,
         COALESCE(f.prior_auth, TRUE) AS prior_auth,
         s.brand_price - s.generic_price AS savings,
         CAST(CAST(
           1.0 / (1.0 + exp(-(-2.0
             + 0.01 * s.generic_price
             + 0.4 * COALESCE(f.tier, 4)
             + 1.5 * CASE WHEN COALESCE(f.prior_auth, TRUE)
                          THEN 1 ELSE 0 END)))
           AS DECIMAL(18,6)) AS DOUBLE) AS denial_risk
  FROM subs_won s
  LEFT JOIN coverage c ON s.patient_id = c.patient_id
  LEFT JOIN formulary f
    ON c.plan_id = f.plan_id AND s.generic_rxcui = f.rxcui
)
SELECT patient_id, med_id, rxcui, status, plan_id, on_formulary,
       tier, prior_auth, savings, denial_risk,
       ROW_NUMBER() OVER (PARTITION BY plan_id
                          ORDER BY denial_risk DESC, med_id) AS queue_pos
FROM aligned
"""


@query("q_domain_denial_queue", oracle=_DENIAL_QUEUE_ORACLE,
       tags=("domain", "denial", "fhir"))
def q_domain_denial_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIOR-AUTH DENIAL QUEUE over the draft FHIR exports — the E1→E3
    composition the reference's feature list describes (README.md:9-10):
    the denial-risk scoring function applied to the PROPOSED therapy of
    every draft MedicationRequest, ranked per payer plan so each plan's
    prior-auth work queue surfaces its riskiest drafts first.

    Unlike q_domain_recommendations' scored column (the CURRENT brand
    med's placement), the queue scores the GENERIC being proposed: its
    formulary tier/prior-auth flag under the patient's plan and its
    as-of price feed the logistic — a draft likely to be denied needs
    the paperwork before submission. The rxcui/status columns are
    RE-EXTRACTED from the serialized FHIR JSON (export_medication_
    requests), so the gate proves the queue ranks the actual export
    artifacts, not a parallel relation.

    Scale shape: subs is fact-sized; coverage and formulary are
    broadcast dims; the window partitions by plan_id (each payer's
    queue ranks independently — no global sort). The logistic passes
    through exp, so it is decimal-quantized at 6 dp on both sides per
    the module convention; tie-break on med_id (unique per draft)
    makes the rank total."""
    from pyspark.sql import Window

    from ..functions.scoring import logistic_score

    tables = stage_domain_tables(spark)
    subs = rules.generic_substitutions(
        tables["meds"], tables["orange_book"], tables["prices"])
    exported = export_medication_requests(subs)
    j = F.col("fhir_json")
    drafts = exported.select(
        "med_id",
        F.get_json_object(
            j, "$.medicationCodeableConcept.coding[0].code").alias("rxcui"),
        F.get_json_object(j, "$.status").alias("status"),
    )
    plan = tables["coverage"].select("patient_id", "plan_id")
    fm = tables["formulary"].select(
        F.col("plan_id").alias("f_plan_id"),
        F.col("rxcui").alias("f_rxcui"), "tier", "prior_auth")
    aligned = (
        subs.join(drafts, "med_id")
        .join(F.broadcast(plan), "patient_id", "left")
        .join(F.broadcast(fm),
              (F.col("plan_id") == F.col("f_plan_id"))
              & (F.col("generic_rxcui") == F.col("f_rxcui")), "left")
        .select(
            "patient_id", "med_id", "rxcui", "status", "plan_id",
            F.col("tier").isNotNull().alias("on_formulary"),
            F.coalesce("tier", F.lit(4)).alias("tier"),
            F.coalesce("prior_auth", F.lit(True)).alias("prior_auth"),
            "savings",
            logistic_score(
                price=F.col("generic_price"),
                tier=F.coalesce("tier", F.lit(4)),
                prior_auth=F.coalesce("prior_auth", F.lit(True)),
            ).cast("decimal(18,6)").cast("double").alias("denial_risk"),
        )
    )
    w = Window.partitionBy("plan_id").orderBy(
        F.desc("denial_risk"), F.asc("med_id"))
    return aligned.withColumn("queue_pos", F.row_number().over(w))
