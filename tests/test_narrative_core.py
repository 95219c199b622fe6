"""Narrative formatter tests — semantics per
/root/reference/schemas/narrativeGeneration.ts (test expectations modeled on
test/narrativeGeneration.test.ts behavior)."""

from scrubah_pii_spark.core.narrative import (
    NarrativeConfig,
    format_diagnoses_summary,
    format_labs_summary,
    format_vitals_summary,
    narrative_for_extraction,
)

DX = [
    {"description": "Type 2 diabetes", "type": "PRIMARY", "icdCode": "E11.9"},
    {"description": "Hypertension", "type": "SECONDARY", "icdCode": "I10"},
    {"description": "Hyperlipidemia", "type": "SECONDARY"},
]
LABS = [
    {"testName": "WBC", "value": 15.0, "unit": "K/uL", "status": "HIGH"},
    {"testName": "HGB", "value": 8.0, "unit": "g/dL", "status": "CRITICAL_LOW"},
    {"testName": "PLT", "value": 250.0, "unit": "K/uL", "status": "NORMAL"},
]
VITALS = [
    {"type": "BP_SYSTOLIC", "value": 140, "unit": "mmHg"},
    {"type": "BP_DIASTOLIC", "value": 90, "unit": "mmHg"},
    {"type": "HEART_RATE", "value": 88, "unit": "bpm"},
    {"type": "SPO2", "value": 97, "unit": "%"},
]


class TestDiagnoses:
    def test_standard(self):
        out = format_diagnoses_summary(DX)
        assert out.splitlines()[0] == "Primary: Type 2 diabetes (E11.9)"
        assert "• Hypertension (I10)" in out
        assert "• Hyperlipidemia" in out

    def test_minimal_truncates(self):
        out = format_diagnoses_summary(DX, NarrativeConfig(verbosity="MINIMAL"))
        assert out.startswith("Type 2 diabetes, Hypertension")
        long = [{"description": "x" * 60, "type": "SECONDARY"}] * 3
        assert format_diagnoses_summary(long, NarrativeConfig(verbosity="MINIMAL")).endswith("...")

    def test_brief_counts_secondary(self):
        out = format_diagnoses_summary(DX, NarrativeConfig(verbosity="BRIEF"))
        assert "Secondary: 2 additional diagnoses" in out

    def test_empty(self):
        assert format_diagnoses_summary([]) == ""


class TestLabs:
    def test_flags(self):
        out = format_labs_summary(LABS)
        assert "• WBC: 15.0 K/uL (H)" in out
        assert "• HGB: 8.0 g/dL ⚠️" in out
        assert "1 other labs within normal limits" in out

    def test_detailed_shows_normal(self):
        out = format_labs_summary(LABS, NarrativeConfig(verbosity="DETAILED"))
        assert "• PLT: 250.0 K/uL" in out

    def test_minimal(self):
        assert format_labs_summary(LABS, NarrativeConfig(verbosity="MINIMAL")) == "2 abnormal lab(s)"
        normal_only = [{"testName": "PLT", "value": 1, "unit": "x", "status": "NORMAL"}]
        assert format_labs_summary(normal_only, NarrativeConfig(verbosity="MINIMAL")) == "Labs WNL"


class TestVitals:
    def test_abbreviated(self):
        out = format_vitals_summary(VITALS)
        assert out == "BP 140/90, HR 88, SpO2 97%"

    def test_long_form(self):
        out = format_vitals_summary(VITALS, NarrativeConfig(use_abbreviations=False))
        assert "Blood Pressure 140/90 mmHg" in out
        assert "Heart Rate 88 bpm" in out

    def test_minimal_caps_three(self):
        out = format_vitals_summary(VITALS, NarrativeConfig(verbosity="MINIMAL"))
        assert out.count(",") <= 2


class TestComposite:
    def test_narrative_from_extraction(self):
        out = narrative_for_extraction(
            labs=[("WBC", 15.0, "K/uL", "HIGH")],
            vitals=[("BP", 140.0), ("HR", 88.0)],
            icd10_codes=["E11.9"],
        )
        assert "DIAGNOSES:" in out and "LABS:" in out and "VITALS:" in out
        assert "Primary: E11.9 (E11.9)" in out
        assert out == narrative_for_extraction(
            labs=[("WBC", 15.0, "K/uL", "HIGH")],
            vitals=[("BP", 140.0), ("HR", 88.0)],
            icd10_codes=["E11.9"],
        )  # deterministic
