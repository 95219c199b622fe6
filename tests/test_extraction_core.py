"""Structured-extraction kernel tests, expectations per
/root/reference/schemas/structuredExtraction.ts and
test/structuredExtraction.test.ts semantics."""

from scrubah_pii_spark.core.extraction import (
    extract_record,
    get_lab_status,
    parse_modality,
)


class TestLabStatus:
    def test_normal(self):
        assert get_lab_status(8.0, "WBC") == "NORMAL"

    def test_high_low(self):
        assert get_lab_status(12.0, "WBC") == "HIGH"
        assert get_lab_status(3.0, "WBC") == "LOW"

    def test_critical(self):
        assert get_lab_status(1.0, "WBC") == "CRITICAL_LOW"   # < 3.5*0.5
        assert get_lab_status(23.0, "WBC") == "CRITICAL_HIGH"  # > 11*2

    def test_unknown_test(self):
        assert get_lab_status(1.0, "NOPE") == "UNKNOWN"


class TestParsers:
    def test_modality(self):
        assert parse_modality("X-ray of chest") == "XRAY"
        assert parse_modality("MRI brain") == "MRI"
        assert parse_modality("nothing") == "UNKNOWN"


class TestExtractRecord:
    DOC = (
        "LABORATORY REPORT\n"
        "WBC: 12.5 x10E3/uL\nHGB: 11.2 g/dL\nGlucose: 185 mg/dL\n"
        "BP: 140/90 mmHg, HR: 88 bpm, Temp: 98.6 F\n"
        "Diagnosis: E11.9 type 2 diabetes. CT scan showed no mass or lesion."
    )

    def test_labs(self):
        r = extract_record(self.DOC)
        labs = {t: (v, s) for t, v, u, s in r.labs}
        assert labs["WBC"] == (12.5, "HIGH")
        assert labs["HGB"] == (11.2, "LOW")
        assert labs["GLUCOSE"] == (185.0, "HIGH")

    def test_vitals(self):
        r = extract_record(self.DOC)
        vitals = dict(r.vitals)
        assert vitals["BP"] == 140.0
        assert vitals["HR"] == 88.0

    def test_icd10(self):
        r = extract_record(self.DOC)
        assert "E11.9" in r.icd10_codes

    def test_modalities_and_abnormal(self):
        r = extract_record(self.DOC)
        assert "CT" in r.modalities
        assert "mass" in r.abnormal_flags and "lesion" in r.abnormal_flags

    def test_empty(self):
        r = extract_record("")
        assert r.labs == [] and r.vitals == []


class TestBpDiastolic:
    def test_bp_both_numbers(self):
        from scrubah_pii_spark.core.extraction import extract_record

        r = extract_record("Vitals: BP: 140/90 mmHg, HR: 88")
        vitals = dict(r.vitals)
        assert vitals["BP"] == 140.0
        assert vitals["BP_DIA"] == 90.0


class TestExtractLabsParity:
    """extract_labs is the labs-only slice of extract_record (UDF-level
    column pruning for lab_trends); the two must never drift."""

    def test_labs_slice_matches_full_record(self):
        from scrubah_pii_spark.core.extraction import extract_labs, extract_record

        probes = [
            "",
            "Hemoglobin: 13.5 g/dL, WBC 11.2, Creatinine: 0.9 mg/dL",
            "BP 120/80, HR 72, glucose 250 mg/dl CRITICAL, A1c: 9.1%",
            "Sodium 151 mEq/L Potassium: 2.9 K+ low; ALT 250 U/L",
            "no labs here at all, just prose about a hospital garden",
            "TSH <0.01 and platelets 450 with INR: 3.3",
        ]
        for p in probes:
            assert extract_labs(p) == extract_record(p).labs
