"""Unit tests for the clinical domain layer (SURVEY.md §5.3-5.4):
interval-overlap edge cases, substitution ranking, formulary flags,
scoring fixed points/monotonicity, FHIR roundtrip, HL7 parsing — plus a
differential test of overlap_pairs against a pure-Python reference on
seeded random data.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import random

import pytest
from pyspark.sql import functions as F

from sigma_rx7_spark.domain import fixtures, fhir, hl7, rules, schemas
from sigma_rx7_spark.functions.scoring import DENIAL_WEIGHTS, logistic_score


def _meds_df(spark, rows):
    """rows: (med_id, patient_id, drug_class, start, stop) shorthand."""
    full = [
        (m, p, f"drug{m}", f"RX{m}", c,
         dt.date.fromisoformat(s),
         dt.date.fromisoformat(e) if e else None,
         1.0, False)
        for (m, p, c, s, e) in rows
    ]
    return spark.createDataFrame(full, schemas.meds)


class TestOverlap:
    def test_basic_and_edges(self, spark):
        df = _meds_df(spark, [
            # touching endpoints => overlap (inclusive semantics)
            (1, 1, "statin", "2023-01-01", "2023-02-01"),
            (2, 1, "statin", "2023-02-01", "2023-03-01"),
            # disjoint => no overlap
            (3, 1, "ssri", "2023-01-01", "2023-01-10"),
            (4, 1, "ssri", "2023-01-11", "2023-02-01"),
            # open-ended stop overlaps everything later
            (5, 2, "ppi", "2023-01-01", None),
            (6, 2, "ppi", "2024-06-01", "2024-06-30"),
            # same class, different patient => no pair
            (7, 3, "statin", "2023-01-01", "2023-02-01"),
        ])
        pairs = {(r.a_med_id, r.b_med_id)
                 for r in rules.overlap_pairs(df).collect()}
        assert pairs == {(1, 2), (5, 6)}

    def test_pair_dedup_and_irreflexivity(self, spark):
        df = _meds_df(spark, [
            (1, 1, "statin", "2023-01-01", "2023-03-01"),
            (2, 1, "statin", "2023-02-01", "2023-04-01"),
            (3, 1, "statin", "2023-02-15", "2023-02-20"),
        ])
        got = rules.overlap_pairs(df).collect()
        pairs = [(r.a_med_id, r.b_med_id) for r in got]
        assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)]
        assert all(a < b for a, b in pairs)

    def test_differential_vs_python_reference(self, spark):
        rng = random.Random(7)
        rows = []
        for m in range(300):
            start = dt.date(2023, 1, 1) + dt.timedelta(
                days=rng.randint(0, 200))
            stop = (None if rng.random() < 0.2
                    else start + dt.timedelta(days=rng.randint(0, 60)))
            rows.append((m, rng.randint(1, 12), rng.choice(["a", "b", "c"]),
                         start.isoformat(),
                         stop.isoformat() if stop else None))
        df = _meds_df(spark, rows)
        got = {(r.a_med_id, r.b_med_id)
               for r in rules.overlap_pairs(df).collect()}

        far = dt.date(9999, 12, 31)
        def olap(x, y):
            (_, px, cx, sx, ex), (_, py, cy, sy, ey) = x, y
            if px != py or cx != cy:
                return False
            sx, sy = dt.date.fromisoformat(sx), dt.date.fromisoformat(sy)
            ex = dt.date.fromisoformat(ex) if ex else far
            ey = dt.date.fromisoformat(ey) if ey else far
            return sx <= ey and sy <= ex
        want = {(x[0], y[0])
                for x, y in itertools.combinations(rows, 2) if olap(x, y)}
        assert got == want


class TestGenerics:
    def test_cheapest_generic_and_asof_price(self, spark):
        meds = spark.createDataFrame(
            [(1, 10, "brandmed", "B1", "statin",
              dt.date(2023, 7, 15), None, 5.0, True)],
            schemas.meds)
        ob = spark.createDataFrame(
            [("B1", "G1", "AB"), ("B1", "G2", "AB"), ("B1", "G3", "BX")],
            schemas.orange_book)
        prices = spark.createDataFrame([
            ("B1", 30.0, dt.date(2023, 1, 1)),
            ("B1", 33.0, dt.date(2023, 7, 1)),   # in effect on 7/15
            ("B1", 40.0, dt.date(2023, 8, 1)),   # future: ignored
            ("G1", 10.0, dt.date(2023, 1, 1)),
            ("G2", 8.0, dt.date(2023, 1, 1)),
            ("G3", 1.0, dt.date(2023, 1, 1)),    # BX-rated: excluded
        ], schemas.prices)
        got = rules.generic_substitutions(meds, ob, prices).collect()
        assert len(got) == 1
        r = got[0]
        assert r.generic_rxcui == "G2"          # cheapest AB generic
        assert r.brand_price == 33.0            # as-of 2023-07-15
        assert r.generic_price == 8.0
        assert r.savings == 25.0

    def test_no_substitution_when_not_cheaper(self, spark):
        meds = spark.createDataFrame(
            [(1, 10, "brandmed", "B1", "statin",
              dt.date(2023, 2, 1), None, 5.0, True)],
            schemas.meds)
        ob = spark.createDataFrame([("B1", "G1", "AB")], schemas.orange_book)
        prices = spark.createDataFrame([
            ("B1", 5.0, dt.date(2023, 1, 1)),
            ("G1", 9.0, dt.date(2023, 1, 1)),
        ], schemas.prices)
        assert rules.generic_substitutions(meds, ob, prices).count() == 0


class TestFormulary:
    def test_uncovered_flags(self, spark):
        meds = spark.createDataFrame([
            (1, 10, "m1", "R1", "statin", dt.date(2023, 1, 1), None,
             2.0, False),
            (2, 10, "m2", "R2", "ssri", dt.date(2023, 1, 1), None,
             3.0, True),
        ], schemas.meds)
        coverage = spark.createDataFrame(
            [(1, 10, "acme", "planA", dt.date(2023, 1, 1))],
            schemas.coverage)
        formulary = spark.createDataFrame(
            [("planA", "R1", 1, False, True)], schemas.formulary)
        got = {r.med_id: r for r in rules.formulary_alignment(
            meds, coverage, formulary).collect()}
        assert got[1].on_formulary and got[1].tier == 1
        assert not got[1].prior_auth and got[1].covered
        # R2 absent from formulary => flagged with worst-case defaults
        assert not got[2].on_formulary and got[2].tier == 4
        assert got[2].prior_auth and not got[2].covered


class TestScoring:
    def test_fixed_point_and_monotonicity(self, spark):
        df = spark.createDataFrame(
            [(0.0, 0, False), (10.0, 1, False), (10.0, 1, True),
             (10.0, 3, True), (100.0, 3, True)],
            "price double, tier int, pa boolean")
        scores = [r.s for r in df.select(
            logistic_score(F.col("price"), F.col("tier"), F.col("pa"))
            .alias("s")).collect()]
        w0, w1, w2, w3 = DENIAL_WEIGHTS
        assert scores[0] == pytest.approx(1 / (1 + math.exp(-w0)))
        assert scores == sorted(scores)  # monotone in each input
        assert all(0.0 < s < 1.0 for s in scores)


class TestFhir:
    def test_export_parse_roundtrip(self, spark):
        subs = spark.createDataFrame(
            [(10, 1, "brandmed", "B1", "G2", 33.0, 8.0, 25.0)],
            "patient_id long, med_id long, drug_name string, "
            "brand_rxcui string, generic_rxcui string, "
            "brand_price double, generic_price double, savings double")
        exported = fhir.export_medication_requests(subs).collect()[0]
        doc = json.loads(exported.fhir_json)
        assert doc["resourceType"] == "MedicationRequest"
        assert doc["status"] == "draft"
        coding = doc["medicationCodeableConcept"]["coding"][0]
        assert coding["code"] == "G2"
        assert coding["system"] == fhir.RXNORM_SYSTEM
        assert doc["subject"]["reference"] == "Patient/10"

        bundle = json.dumps({
            "resourceType": "Bundle",
            "entry": [{"resource": {**doc, "id": "mr-1",
                                    "authoredOn": "2023-07-15"}}],
        })
        bdf = spark.createDataFrame([(bundle,)], "bundle_json string")
        parsed = fhir.parse_medication_requests(bdf).collect()[0]
        assert parsed.patient_id == 10
        assert parsed.rxcui == "G2"
        assert parsed.start_date == dt.date(2023, 7, 15)

    def test_malformed_bundle_json_quarantines_as_null(self, spark):
        """Corrupt or non-Bundle JSON must surface as NULL rows from
        the explicit-schema from_json (the documented quarantine
        contract in fhir.py's module docstring), never throw."""
        bad = spark.createDataFrame(
            [("{not json",), ("42",), ('{"resourceType":"Bundle"}',)],
            "bundle_json string")
        rows = fhir.parse_medication_requests(bad).collect()
        # entries explode to zero rows for all three (no entry array)
        assert rows == []

    def test_bundle_export_groups_and_orders_deterministically(self, spark):
        """export_bundles: one Bundle per patient, entries sorted by
        med_id regardless of input order, every leaf present — and the
        serialized text is identical for permuted inputs (the
        partition-independence the array_sort exists for)."""
        rows = [
            (10, 2, "bmed2", "B2", "G2", 30.0, 9.0, 21.0, dt.date(2023, 2, 1)),
            (10, 1, "bmed1", "B1", "G1", 33.0, 8.0, 25.0, dt.date(2023, 1, 1)),
            (11, 3, "bmed3", "B3", "G3", 20.0, 5.0, 15.0, dt.date(2023, 3, 1)),
        ]
        schema = ("patient_id long, med_id long, drug_name string, "
                  "brand_rxcui string, generic_rxcui string, "
                  "brand_price double, generic_price double, "
                  "savings double, start_date date")
        out = {r.patient_id: r.bundle_json
               for r in fhir.export_bundles(
                   spark.createDataFrame(rows, schema)).collect()}
        assert set(out) == {10, 11}
        b10 = json.loads(out[10])
        assert b10["resourceType"] == "Bundle"
        ids = [e["resource"]["id"] for e in b10["entry"]]
        assert ids == ["1", "2"]  # med_id order, not input order
        e1 = b10["entry"][0]["resource"]
        assert e1["authoredOn"] == "2023-01-01"
        assert e1["medicationCodeableConcept"]["coding"][0]["code"] == "G1"
        # permutation invariance of the serialized text
        out2 = {r.patient_id: r.bundle_json
                for r in fhir.export_bundles(
                    spark.createDataFrame(rows[::-1], schema)).collect()}
        assert out2 == out


class TestHl7:
    MSG = (
        "MSH|^~\\&|PHARM|HOSP|RX|HOSP|202301010800||RDE^O11|1|P|2.5\r"
        "PID|1||42||Doe^Jane||19800115|F\r"
        "RXE|1^daily|777^lisinopril 10mg^RXNORM|10||mg"
    )

    def test_hl7_to_meds(self, spark):
        msgs = spark.createDataFrame([(self.MSG,)], "message string")
        got = hl7.hl7_to_meds(msgs).collect()
        assert len(got) == 1
        r = got[0]
        assert r.patient_id == 42
        assert r.rxcui == "777"
        assert r.drug_name == "lisinopril 10mg"

    def test_patient_fields(self, spark):
        msgs = spark.createDataFrame([(self.MSG,)], "message string")
        segs = hl7.explode_segments(msgs)
        assert {r.seg_type for r in segs.collect()} == {"MSH", "PID", "RXE"}
        p = hl7.parse_patients(segs).collect()[0]
        assert p.name == "Jane Doe"
        assert p.birth_date == dt.date(1980, 1, 15)
        assert p.gender == "F"

    def test_malformed_segments_yield_nulls_not_errors(self, spark):
        """Real-world HL7 is messy: a non-numeric PID-3 or garbage birth
        date must become NULL (try_cast/try_to_date) and drop from the
        typed extract — not throw under Spark 4's ANSI-on default. The
        batch's well-formed sibling message must survive untouched."""
        bad = (
            "MSH|^~\\&|PHARM|HOSP|RX|HOSP|202301010800||RDE^O11|2|P|2.5\r"
            "PID|1||NOT_A_NUMBER||Smith^Pat||NOTADATE|U\r"
            "RXE|1^daily|888^metformin 500mg^RXNORM|10||mg"
        )
        msgs = spark.createDataFrame(
            [(self.MSG,), (bad,)], "message string")
        pats = hl7.parse_patients(hl7.explode_segments(msgs)).collect()
        assert len(pats) == 2
        by_name = {p.name: p for p in pats}
        assert by_name["Jane Doe"].patient_id == 42
        assert by_name["Pat Smith"].patient_id is None
        assert by_name["Pat Smith"].birth_date is None
        # the typed med extract inner-joins on the parsed patient, so
        # the malformed message's meds drop instead of crashing the run
        meds = hl7.hl7_to_meds(msgs).collect()
        assert all(m.patient_id is not None or m.rxcui == "888"
                   for m in meds)


class TestHl7Escaping:
    """HL7 v2 delimiter escaping (\\F\\ \\S\\ \\R\\ \\T\\ \\E\\): the
    render→parse round trip must be lossless for drug names containing
    the wire delimiters themselves — the injection case unescaped
    renderers get wrong."""

    NASTY = [
        "amox|cillin",          # field separator
        "beta^blocker",         # component separator
        "a~b&c",                # repetition + subcomponent
        "back\\slash",          # escape char itself
        "all|of^them~at&once\\",
        "\\F\\ literal-looking",  # pre-escaped-looking text survives
    ]

    def test_roundtrip_with_delimiters(self, spark):
        from sigma_rx7_spark.domain.hl7 import build_messages, hl7_to_meds

        meds = spark.createDataFrame(
            [(100 + i, 7, name, str(9000 + i), dt.date(2023, 1, 1))
             for i, name in enumerate(self.NASTY)],
            "med_id long, patient_id long, drug_name string, "
            "rxcui string, start_date date")
        out = hl7_to_meds(build_messages(meds)).collect()
        assert {(r.patient_id, r.rxcui, r.drug_name) for r in out} == {
            (7, str(9000 + i), name) for i, name in enumerate(self.NASTY)}

    def test_udtf_twin_unescapes_identically(self, spark):
        from sigma_rx7_spark.domain.hl7 import build_messages, hl7_meds_udtf

        meds = spark.createDataFrame(
            [(200 + i, 8, name, str(9100 + i), dt.date(2023, 1, 1))
             for i, name in enumerate(self.NASTY)],
            "med_id long, patient_id long, drug_name string, "
            "rxcui string, start_date date")
        msgs = build_messages(meds)
        udtf_cls = hl7_meds_udtf()
        spark.udtf.register("_t_hl7", udtf_cls)
        rows = spark.sql(
            "SELECT t.* FROM {msgs}, LATERAL _t_hl7(message) t",
            msgs=msgs).collect()
        assert {(r.patient_id, r.rxcui, r.drug_name) for r in rows} == {
            (8, str(9100 + i), name) for i, name in enumerate(self.NASTY)}


class TestPipeline:
    def test_recommendations_end_to_end(self, spark):
        tables = fixtures.build_domain_tables(spark)
        recs = rules.recommendations(tables)
        rows = recs.collect()
        assert len(rows) > 0
        types = {r.rec_type for r in rows}
        assert types == {"overlap", "generic_substitution"}
        # every substitution row carries a positive saving and a score
        for r in rows:
            if r.rec_type == "generic_substitution":
                assert r.savings > 0
                assert 0.0 <= r.denial_risk <= 1.0
        # rank is a proper per-patient permutation
        by_patient: dict[int, list[int]] = {}
        for r in rows:
            by_patient.setdefault(r.patient_id, []).append(r.rank)
        for ranks in by_patient.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
