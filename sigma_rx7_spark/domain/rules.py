"""The reference's rule engine re-expressed as DataFrame pipelines.

Reference capabilities (reference README.md:3,8-9,23-27):
- ``overlap_pairs``          — app/rules/overlap.py (R:23): therapeutic
  duplication via same-patient, same-class interval-overlap self-join.
- ``generic_substitutions``  — app/rules/generics.py (R:24): Orange Book
  brand→generic mapping + as-of pricing + cheapest-candidate ranking.
- ``formulary_alignment``    — app/rules/payer.py (R:25): left join onto
  the patient's plan formulary, flagging uncovered meds.
- ``recommendations``        — the composed E1 request path (R:69-71)
  with denial-risk scoring (R:9,27,77).

Scale notes: every join here keys on (patient, …) or an rxcui dimension.
KB tables (classes, Orange Book, prices, formulary) are broadcast — they
are the small side at any scale. The overlap self-join keys on
(patient_id, drug_class): per-key cardinality is medically bounded
(active prescriptions per patient), so the equi-join + interval predicate
never degenerates; no time-bucketing needed, unlike the unbounded event
streams handled by operators/interval.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scoring import logistic_score

# Open-ended prescriptions (stop_date NULL) are active "forever".
_OPEN_END = "9999-12-31"


def _stop(col: str) -> Column:
    return F.coalesce(F.col(col), F.lit(_OPEN_END).cast("date"))


def overlap_pairs(meds: DataFrame) -> DataFrame:
    """Therapeutic-duplication pairs (README.md:3,9,23).

    Pair semantics (FIXTURES.md §B golden rule): same patient + same
    drug_class, ``a.start <= coalesce(b.stop, ∞) AND b.start <=
    coalesce(a.stop, ∞)`` (touching endpoints DO overlap), with
    ``a.med_id < b.med_id`` for one row per unordered pair.
    """
    cols = ["med_id", "drug_name", "rxcui", "start_date", "stop_date"]
    a = meds.select(
        "patient_id", "drug_class",
        *[F.col(c).alias(f"a_{c}") for c in cols],
    )
    b = meds.select(
        F.col("patient_id").alias("b_patient_id"),
        F.col("drug_class").alias("b_drug_class"),
        *[F.col(c).alias(f"b_{c}") for c in cols],
    )
    overlap_days = (
        F.datediff(
            F.least(_stop("a_stop_date"), _stop("b_stop_date")),
            F.greatest(F.col("a_start_date"), F.col("b_start_date")),
        ) + 1
    )
    return (
        a.join(
            b,
            (F.col("patient_id") == F.col("b_patient_id"))
            & (F.col("drug_class") == F.col("b_drug_class"))
            & (F.col("a_med_id") < F.col("b_med_id"))
            & (F.col("a_start_date") <= _stop("b_stop_date"))
            & (F.col("b_start_date") <= _stop("a_stop_date")),
        )
        .select(
            "patient_id", "drug_class",
            "a_med_id", "a_drug_name", "a_start_date", "a_stop_date",
            "b_med_id", "b_drug_name", "b_start_date", "b_stop_date",
            overlap_days.alias("overlap_days"),
        )
    )


def price_asof(prices: DataFrame, keys: DataFrame,
               key_col: str = "rxcui", date_col: str = "as_of_date",
               ) -> DataFrame:
    """Price in effect at each (rxcui, date) — README.md:8's
    time-versioned pricing as a windowed as-of lookup.

    keys: distinct (rxcui, as_of_date) pairs. Implemented as join +
    latest-effective filter; the KB price table broadcasts.
    """
    w = Window.partitionBy(key_col, date_col).orderBy(
        F.desc("effective_date"))
    return (
        keys.join(F.broadcast(prices), on=key_col, how="left")
        .where(F.col("effective_date") <= F.col(date_col))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(key_col, date_col, "price", "effective_date")
    )


def generic_substitutions(meds: DataFrame, orange_book: DataFrame,
                          prices: DataFrame) -> DataFrame:
    """Brand→generic suggestions with savings (README.md:3,8,24).

    Per brand prescription: AB-rated generic equivalents from the Orange
    Book, both sides priced as of the prescription start date, cheapest
    generic picked by window rank, kept only when it actually saves.
    """
    brands = meds.where(F.col("is_brand")).select(
        "med_id", "patient_id", "drug_name", "rxcui", "start_date")
    ob = orange_book.where(F.col("te_code") == "AB")
    cand = brands.join(
        F.broadcast(ob), brands.rxcui == ob.brand_rxcui
    )
    brand_price_keys = cand.select(
        F.col("rxcui"), F.col("start_date").alias("as_of_date")
    ).distinct()
    gen_price_keys = cand.select(
        F.col("generic_rxcui").alias("rxcui"),
        F.col("start_date").alias("as_of_date"),
    ).distinct()
    bp = price_asof(prices, brand_price_keys).select(
        F.col("rxcui"), F.col("as_of_date"),
        F.col("price").alias("brand_price"))
    gp = price_asof(prices, gen_price_keys).select(
        F.col("rxcui").alias("generic_rxcui"), F.col("as_of_date"),
        F.col("price").alias("generic_price"))
    priced = (
        cand.join(bp, [cand.rxcui == bp.rxcui,
                       cand.start_date == bp.as_of_date])
        .drop(bp.rxcui).drop(bp.as_of_date)
        .join(gp, [cand.generic_rxcui == gp.generic_rxcui,
                   cand.start_date == gp.as_of_date])
        .drop(gp.generic_rxcui).drop(gp.as_of_date)
    )
    w = Window.partitionBy("med_id").orderBy(
        "generic_price", "generic_rxcui")
    return (
        priced.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.col("generic_price") < F.col("brand_price"))
        .select(
            "med_id", "patient_id", "drug_name",
            F.col("rxcui").alias("brand_rxcui"), "generic_rxcui",
            "brand_price", "generic_price",
            (F.col("brand_price") - F.col("generic_price"))
            .alias("savings"),
        )
    )


def formulary_alignment(meds: DataFrame, coverage: DataFrame,
                        formulary: DataFrame) -> DataFrame:
    """Formulary lookup with not-covered flags (README.md:9,25).

    meds ⋈ patient's plan (coverage) ⋈ formulary (left) — unmatched rows
    survive with ``on_formulary = false`` so the payer rule can flag
    them, exactly the reference's negative-space requirement.
    """
    plan = coverage.select("patient_id", "plan_id")
    withplan = meds.join(F.broadcast(plan), "patient_id", "left")
    fm = formulary.select(
        F.col("plan_id").alias("f_plan_id"),
        F.col("rxcui").alias("f_rxcui"),
        "tier", "prior_auth", "covered",
    )
    return (
        withplan.join(
            F.broadcast(fm),
            (withplan.plan_id == fm.f_plan_id)
            & (withplan.rxcui == fm.f_rxcui),
            "left",
        )
        .select(
            "med_id", "patient_id", "drug_name", "rxcui", "drug_class",
            "daily_cost", "is_brand", "plan_id",
            F.col("tier").isNotNull().alias("on_formulary"),
            F.coalesce("tier", F.lit(4)).alias("tier"),
            F.coalesce("prior_auth", F.lit(True)).alias("prior_auth"),
            F.coalesce("covered", F.lit(False)).alias("covered"),
        )
    )


def denial_scores(aligned: DataFrame) -> DataFrame:
    """Denial-risk per aligned med (README.md:9,27,77): the logistic
    native-expression over (daily_cost, tier, prior_auth)."""
    return aligned.withColumn(
        "denial_risk",
        logistic_score(
            price=F.col("daily_cost"),
            tier=F.col("tier"),
            prior_auth=F.col("prior_auth"),
        ),
    )


def recommendations(tables: dict[str, DataFrame]) -> DataFrame:
    """The composed E1 recommendation pipeline (README.md:69-71):
    overlap alerts ∪ substitution suggestions, enriched with formulary
    flags and denial scores, ranked per patient."""
    meds = tables["meds"]
    overlaps = overlap_pairs(meds).select(
        "patient_id",
        F.lit("overlap").alias("rec_type"),
        F.col("a_med_id").alias("med_id"),
        F.concat(
            F.lit("duplicate "), F.col("drug_class"),
            F.lit(": "), F.col("a_drug_name"),
            F.lit(" + "), F.col("b_drug_name"),
        ).alias("message"),
        F.lit(0.0).alias("savings"),
    )
    subs = generic_substitutions(
        meds, tables["orange_book"], tables["prices"]
    ).select(
        "patient_id",
        F.lit("generic_substitution").alias("rec_type"),
        "med_id",
        F.concat(
            F.lit("switch "), F.col("drug_name"),
            F.lit(" to "), F.col("generic_rxcui"),
        ).alias("message"),
        "savings",
    )
    scored = denial_scores(
        formulary_alignment(meds, tables["coverage"], tables["formulary"])
    ).select("med_id", "tier", "prior_auth", "denial_risk")
    recs = overlaps.unionByName(subs).join(scored, "med_id", "left")
    # Total ordering: a med can appear in several overlap pairs (same
    # savings/med_id/rec_type), so "message" completes the tiebreak —
    # rank assignment must be engine- and partitioning-independent.
    w = Window.partitionBy("patient_id").orderBy(
        F.desc("savings"), F.asc("med_id"), F.asc("rec_type"),
        F.asc("message"))
    return recs.withColumn("rank", F.row_number().over(w))


# Substance -> contraindicated drug class (cross-sensitivity knowledge
# base). Tiny reference data: ships as a broadcast relation, not a
# hardcoded predicate, so extending coverage is a data change.
ALLERGY_CLASS_MAP: tuple[tuple[str, str], ...] = (
    ("sulfa", "sulfonylurea"),            # sulfonamide cross-sensitivity
    ("penicillin", "penicillin_class"),   # no fixture meds in class: the
                                          # map is wider than the corpus
)


def allergy_alerts(meds: DataFrame, allergies: DataFrame) -> DataFrame:
    """Allergy contraindication screen (README.md:7 stores allergies
    precisely so prescriptions can be checked against them): flag every
    med whose drug class is cross-sensitive with a substance the same
    patient is allergic to; severe allergies escalate to 'block'.

    Scale shape: the class map is a literal broadcast relation; the
    allergies table is patient-keyed and orders of magnitude smaller
    than meds, so the screen is one broadcast join + one equi-join on
    (patient_id) — the fact table never shuffles."""
    spark = meds.sparkSession
    cmap = spark.createDataFrame(
        list(ALLERGY_CLASS_MAP), "substance string, drug_class string")
    hits = allergies.join(F.broadcast(cmap), "substance")
    return (
        meds.join(hits, ["patient_id", "drug_class"])
        .select(
            "patient_id", "med_id", "drug_name", "drug_class",
            "substance", "severity",
            F.when(F.col("severity") == "severe", "block")
            .otherwise("warn").alias("alert_level"),
        )
    )


# Observation horizon for adherence measurement: open prescriptions get
# coverage credit up to this date, and no further.
OBS_END = "2024-12-31"
POLYPHARMACY_MIN = 4   # >=4 concurrent meds flags the patient
PDC_ADHERENT = 0.8     # standard proportion-of-days-covered threshold


def polypharmacy(meds: DataFrame) -> DataFrame:
    """Max MEDICATION CONCURRENCY per patient (sweep line): explode each
    prescription into a +1 event at start and a -1 event the day after
    its stop (inclusive endpoints — mirrors overlap_pairs' predicate;
    open-ended meds emit no end event), running-sum the deltas in
    (date, delta, med_id) order, and take the per-patient max prefix.
    ≥{POLYPHARMACY_MIN} simultaneous active meds flags the patient —
    the population-screen form of overlap_pairs' pairwise duplication
    rule (README.md:3,9,23).

    Determinism: the prefix max is invariant to tie order within
    (date, delta) — equal-delta ties only permute intermediate prefixes
    below the post-date total — and -1 sorts before +1 on the same date
    (delta ascending), so back-to-back prescriptions ([1,5] then [6,10])
    never count as concurrent. Scale shape: 2 rows per med, one shuffle
    by patient, window + aggregate; no self-join — the sweep is O(n log n)
    against overlap_pairs' per-key O(n²) pair enumeration."""
    start_ev = meds.select(
        "patient_id", "med_id",
        F.col("start_date").alias("ev_date"), F.lit(1).alias("delta"))
    end_ev = (
        meds.where(F.col("stop_date").isNotNull())
        .select("patient_id", "med_id",
                F.date_add("stop_date", 1).alias("ev_date"),
                F.lit(-1).alias("delta"))
    )
    w = (Window.partitionBy("patient_id")
         .orderBy("ev_date", "delta", "med_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = start_ev.unionByName(end_ev).select(
        "patient_id", F.sum("delta").over(w).alias("cum"))
    return (
        cum.groupBy("patient_id")
        .agg(F.max("cum").cast("int").alias("max_concurrent"))
        .join(meds.groupBy("patient_id")
                  .agg(F.count(F.lit(1)).alias("n_meds")),
              "patient_id")
        .select("patient_id", "n_meds", "max_concurrent",
                (F.col("max_concurrent") >= POLYPHARMACY_MIN)
                .alias("is_polypharmacy"))
    )


def adherence_pdc(meds: DataFrame) -> DataFrame:
    """Proportion of days covered (PDC) per (patient, drug_class) — the
    standard pharmacy adherence measure over the "clinical history"
    (README.md:3): merge each class's prescription intervals into
    maximal covered islands (gaps-and-islands: a new island starts when
    a prescription begins more than one day after every earlier
    prescription in the class has stopped), then
    PDC = union-covered days / observation-period days. Interval UNION,
    not sum — overlapping refills must not double-count.

    All arithmetic is date/integer (exact in both engines); the single
    double division happens once on identical integers. Scale shape: one
    shuffle by (patient, class); the island window and both aggregates
    reuse that partitioning."""
    stop_eff = F.least(_stop("stop_date"), F.lit(OBS_END).cast("date"))
    base = meds.select(
        "patient_id", "drug_class", "med_id",
        F.col("start_date").alias("s"), stop_eff.alias("e"))
    keys = ["patient_id", "drug_class"]
    order = ["s", "e", "med_id"]
    w_prev = (Window.partitionBy(*keys).orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy(*keys).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prev_max = F.max("e").over(w_prev)
    flagged = base.select(
        *keys, "med_id", "s", "e",
        F.when(prev_max.isNull()
               | (F.col("s") > F.date_add(prev_max, 1)), 1)
        .otherwise(0).alias("new_island"),
    )
    islands = (
        flagged.withColumn("island", F.sum("new_island").over(w_run))
        .groupBy(*keys, "island")
        .agg((F.datediff(F.max("e"), F.min("s")) + 1).alias("covered"))
    )
    per_class = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_meds"),
        (F.datediff(F.max("e"), F.min("s")) + 1).alias("period_days"),
    )
    summed = islands.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("int").alias("n_islands"),
        F.sum("covered").cast("bigint").alias("covered_days"),
    )
    pdc = (F.col("covered_days").cast("double")
           / F.col("period_days").cast("double"))
    return (
        per_class.join(summed, keys)
        .select(*keys, "n_meds", "n_islands", "covered_days",
                F.col("period_days").cast("bigint").alias("period_days"),
                pdc.alias("pdc"),
                (pdc >= PDC_ADHERENT).alias("is_adherent"))
    )


# Condition → indicated drug-class guideline map (the same literal-
# broadcast-dimension pattern as allergy_alerts' cross-sensitivity map).
GUIDELINE_MAP = (
    ("E11.9", "biguanide"), ("E11.9", "sulfonylurea"),
    ("I10", "ace_inhibitor"), ("I10", "beta_blocker"),
    ("F32.9", "ssri"),
)


def treatment_gaps(conditions: DataFrame, meds: DataFrame) -> DataFrame:
    """Care-gap screen: for every diagnosed condition, check whether the
    patient has ANY prescription in one of the guideline-indicated drug
    classes; none ⇒ a treatment gap. The negative-space complement of
    overlap_pairs (too MUCH same-class therapy) — this flags too LITTLE
    (README.md:3 "clinical history", README.md:7 conditions table).

    Shape: conditions ⋈ broadcast guideline map (1:N classes), left
    join onto the DISTINCT (patient, class) med relation (distinct
    first, so a patient's many refills count once), then one aggregate
    per (patient, condition). The med fact reduces to its key domain
    before any join — nothing patient-level ever ships twice."""
    cmap = conditions.sparkSession.createDataFrame(
        list(GUIDELINE_MAP), "icd10 string, indicated_class string")
    med_classes = (
        meds.select("patient_id", F.col("drug_class").alias(
            "indicated_class")).distinct()
        .withColumn("covered", F.lit(1)))
    return (
        conditions.join(F.broadcast(cmap), "icd10")
        .join(med_classes, ["patient_id", "indicated_class"], "left")
        .groupBy("patient_id", "icd10")
        .agg(F.count(F.lit(1)).alias("n_indicated_classes"),
             F.sum(F.coalesce(F.col("covered"), F.lit(0)))
             .cast("bigint").alias("n_covered_classes"))
        .select("patient_id", "icd10", "n_indicated_classes",
                "n_covered_classes",
                (F.col("n_covered_classes") == 0).alias("care_gap"))
    )


ERA_GAP_DAYS = 30  # persistence window: refills <=30 days apart chain

# The oracle twin of drug_eras, as DuckDB CTE bodies over a relation
# ``meds``: ``m`` closes open prescriptions, ``flagged`` marks the
# prescriptions that open an era, and ``seq`` numbers each
# (patient_id, drug_class)'s eras in ``era_seq``.
ERA_ORACLE = f"""m AS (
      SELECT patient_id, drug_class, med_id, start_date,
             COALESCE(stop_date, start_date + INTERVAL {ERA_GAP_DAYS} DAY)
               AS end_date
      FROM meds
    ), flagged AS (
      SELECT *,
             CASE WHEN MAX(end_date) OVER (
                    PARTITION BY patient_id, drug_class
                    ORDER BY start_date, med_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) IS NULL
                    OR start_date > MAX(end_date) OVER (
                    PARTITION BY patient_id, drug_class
                    ORDER BY start_date, med_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) + INTERVAL {ERA_GAP_DAYS} DAY
                  THEN 1 ELSE 0 END AS is_new
      FROM m
    ), seq AS (
      SELECT *,
             SUM(is_new) OVER (
               PARTITION BY patient_id, drug_class
               ORDER BY start_date, med_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS era_seq
      FROM flagged
    )"""


def drug_eras(meds: DataFrame) -> DataFrame:
    """DRUG-ERA CONSTRUCTION (the OMOP drug_era build): consolidate a
    patient's prescriptions in one drug class into continuous exposure
    eras, chaining intervals whose gap is <= {ERA_GAP_DAYS} days —
    gaps-and-islands with interval CONTAINMENT handled via the running
    max of prior stop dates (a bare lag(stop) breaks when an earlier
    long prescription swallows a later short one). Open prescriptions
    (NULL stop_date) close at start + {ERA_GAP_DAYS} days.

    Scale shape: one (patient, class)-keyed shuffle, one sort per key
    group shared by both windows, one aggregate — q_sessionize_batch's
    single-exchange discipline applied to date intervals."""
    end = F.coalesce(F.col("stop_date"),
                     F.date_add(F.col("start_date"), ERA_GAP_DAYS))
    w = Window.partitionBy("patient_id", "drug_class") \
        .orderBy("start_date", "med_id")
    prev_max_end = F.max("end_date").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    new_era = F.when(
        prev_max_end.isNull()
        | (F.col("start_date") > F.date_add(prev_max_end, ERA_GAP_DAYS)),
        1).otherwise(0)
    eras = (
        meds.select("patient_id", "drug_class", "med_id", "start_date",
                    end.alias("end_date"))
        .withColumn("is_new", new_era)
        .withColumn("era_seq", F.sum("is_new").over(w))
    )
    return (
        eras.groupBy("patient_id", "drug_class", "era_seq")
        .agg(
            F.min("start_date").alias("era_start"),
            F.max("end_date").alias("era_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_meds"),
        )
        .withColumn("era_days",
                    (F.datediff("era_end", "era_start") + 1).cast("int"))
        .select("patient_id", "drug_class",
                F.col("era_seq").cast("int").alias("era_seq"),
                "era_start", "era_end", "n_meds", "era_days")
    )
