"""Whitelist structured extraction: labs, vitals, diagnoses, imaging —
regex banks + reference-range status + the modality parser.

From-scratch port of the semantics in
/root/reference/schemas/structuredExtraction.ts:
  LAB_PATTERNS            :313-353
  VITAL_PATTERNS          :377-386
  DIAGNOSIS_PATTERNS      :391-400 (ICD-10 [A-Z]\\d{2}(\\.\\d{1,4})?)
  REFERENCE_RANGES        :420-441
  getLabStatus            :447-469 (critical = 0.5x low / 2x high)
  parseModality           :500-520

Medications (MEDICATION_PATTERNS :358-372, parseFrequency, parseRoute) are
extracted by core/whitelist.py, not here.

Pure functions; the Spark operator wraps them in a vectorized UDF producing
ARRAY<STRUCT> columns, and the count-level queries are mirrored in SQL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

I = re.IGNORECASE

LAB_PATTERNS = {
    "WBC": re.compile(r"\bWBC[:\s]*(\d+\.?\d*)\s*(x?10[E^]?3/[uμ]?L)?", I),
    "RBC": re.compile(r"\bRBC[:\s]*(\d+\.?\d*)\s*(x?10[E^]?6/[uμ]?L)?", I),
    "HGB": re.compile(r"\b(?:HGB|Hemoglobin|Hgb)[:\s]*(\d+\.?\d*)\s*(g/dL)?", I),
    "HCT": re.compile(r"\b(?:HCT|Hematocrit)[:\s]*(\d+\.?\d*)\s*%?", I),
    "PLT": re.compile(r"\b(?:PLT|Platelets?)[:\s]*(\d+\.?\d*)\s*(x?10[E^]?3/[uμ]?L)?", I),
    "MCV": re.compile(r"\bMCV[:\s]*(\d+\.?\d*)\s*(fL)?", I),
    "MCH": re.compile(r"\bMCH[:\s]*(\d+\.?\d*)\s*(pg)?", I),
    "MCHC": re.compile(r"\bMCHC[:\s]*(\d+\.?\d*)\s*(g/dL)?", I),
    "SODIUM": re.compile(r"\b(?:Na|Sodium)[:\s]*(\d+\.?\d*)\s*(mEq/L|mmol/L)?", I),
    "POTASSIUM": re.compile(r"\b(?:K|Potassium)[:\s]*(\d+\.?\d*)\s*(mEq/L|mmol/L)?", I),
    "CHLORIDE": re.compile(r"\b(?:Cl|Chloride)[:\s]*(\d+\.?\d*)\s*(mEq/L|mmol/L)?", I),
    "CO2": re.compile(r"\b(?:CO2|Bicarb)[:\s]*(\d+\.?\d*)\s*(mEq/L|mmol/L)?", I),
    "BUN": re.compile(r"\bBUN[:\s]*(\d+\.?\d*)\s*(mg/dL)?", I),
    "CREATININE": re.compile(r"\b(?:Cr|Creatinine)[:\s]*(\d+\.?\d*)\s*(mg/dL)?", I),
    "GLUCOSE": re.compile(r"\b(?:Glu|Glucose)[:\s]*(\d+\.?\d*)\s*(mg/dL)?", I),
    "CALCIUM": re.compile(r"\b(?:Ca|Calcium)[:\s]*(\d+\.?\d*)\s*(mg/dL)?", I),
    "AST": re.compile(r"\b(?:AST|SGOT)[:\s]*(\d+\.?\d*)\s*(U/L|IU/L)?", I),
    "ALT": re.compile(r"\b(?:ALT|SGPT)[:\s]*(\d+\.?\d*)\s*(U/L|IU/L)?", I),
    "ALP": re.compile(r"\b(?:ALP|Alk\s*Phos)[:\s]*(\d+\.?\d*)\s*(U/L|IU/L)?", I),
    "BILIRUBIN": re.compile(r"\b(?:Bili|Bilirubin)[:\s]*(\d+\.?\d*)\s*(mg/dL)?", I),
    "ALBUMIN": re.compile(r"\bAlbumin[:\s]*(\d+\.?\d*)\s*(g/dL)?", I),
    "PT": re.compile(r"\bPT[:\s]*(\d+\.?\d*)\s*(sec|seconds)?", I),
    "INR": re.compile(r"\bINR[:\s]*(\d+\.?\d*)", I),
    "PTT": re.compile(r"\b(?:PTT|aPTT)[:\s]*(\d+\.?\d*)\s*(sec|seconds)?", I),
    "TROPONIN": re.compile(r"\bTroponin[:\s]*(<?\d+\.?\d*)\s*(ng/mL|ng/L)?", I),
    "BNP": re.compile(r"\bBNP[:\s]*(\d+\.?\d*)\s*(pg/mL)?", I),
}

VITAL_PATTERNS = {
    "BP": re.compile(r"\bBP[:\s]*(\d{2,3})\s*/\s*(\d{2,3})\s*(mmHg)?", I),
    "HR": re.compile(r"\b(?:HR|Heart\s*Rate|Pulse)[:\s]*(\d{2,3})\s*(bpm|/min)?", I),
    "RR": re.compile(r"\b(?:RR|Resp(?:iratory)?\s*Rate)[:\s]*(\d{1,2})\s*(/min)?", I),
    "TEMP": re.compile(r"\b(?:Temp|Temperature)[:\s]*(\d{2,3}\.?\d*)\s*(°?[FC]|degrees)?", I),
    "SPO2": re.compile(r"\b(?:SpO2|O2\s*Sat|Oxygen\s*Sat)[:\s]*(\d{2,3})\s*%?", I),
    "WEIGHT": re.compile(r"\bWeight[:\s]*(\d+\.?\d*)\s*(kg|lbs?|pounds?)?", I),
    "HEIGHT": re.compile(r"\bHeight[:\s]*(\d+\.?\d*)\s*(cm|in|inches|feet|ft)?", I),
    "PAIN": re.compile(r"\bPain[:\s]*(\d{1,2})\s*(?:/\s*10)?", I),
}

ICD10_RE = re.compile(r"\b([A-Z]\d{2}(?:\.\d{1,4})?)\b")
MODALITY_RE = re.compile(r"\b(X-?ray|CT|MRI|Ultrasound|US|PET|Mammogram|Fluoro)", I)
ABNORMAL_RE = re.compile(
    r"\b(abnormal|mass|lesion|fracture|effusion|consolidation|opacity|enlarged|nodule|tumor)\b", I
)

REFERENCE_RANGES = {
    "WBC": (3.5, 11.0, "x10E3/uL"),
    "RBC": (4.0, 5.5, "x10E6/uL"),
    "HGB": (12.0, 17.0, "g/dL"),
    "HCT": (36, 50, "%"),
    "PLT": (150, 400, "x10E3/uL"),
    "SODIUM": (136, 145, "mEq/L"),
    "POTASSIUM": (3.5, 5.0, "mEq/L"),
    "CHLORIDE": (98, 106, "mEq/L"),
    "CO2": (22, 29, "mEq/L"),
    "BUN": (7, 20, "mg/dL"),
    "CREATININE": (0.6, 1.2, "mg/dL"),
    "GLUCOSE": (70, 100, "mg/dL"),
    "CALCIUM": (8.5, 10.5, "mg/dL"),
    "AST": (10, 40, "U/L"),
    "ALT": (7, 56, "U/L"),
    "ALP": (44, 147, "U/L"),
    "BILIRUBIN": (0.1, 1.2, "mg/dL"),
    "ALBUMIN": (3.5, 5.0, "g/dL"),
    "PT": (11, 13.5, "sec"),
    "INR": (0.8, 1.1, ""),
}


def get_lab_status(value: float, test_name: str) -> str:
    rng = REFERENCE_RANGES.get(test_name.upper())
    if not rng:
        return "UNKNOWN"
    low, high, _ = rng
    if value < low * 0.5:
        return "CRITICAL_LOW"
    if value > high * 2:
        return "CRITICAL_HIGH"
    if value < low:
        return "LOW"
    if value > high:
        return "HIGH"
    return "NORMAL"


def parse_modality(text: str) -> str:
    rules = [
        ("XRAY", r"\bx-?ray\b"), ("CT", r"\bct\b"), ("MRI", r"\bmri\b"),
        ("ULTRASOUND", r"\b(ultrasound|us)\b"), ("PET", r"\bpet\b"),
        ("MAMMOGRAM", r"\bmammogram"), ("FLUOROSCOPY", r"\bfluoro"),
    ]
    for name, pat in rules:
        if re.search(pat, text, I):
            return name
    return "UNKNOWN"


@dataclass
class ExtractedRecord:
    labs: list        # [(test, value, unit, status)]
    vitals: list      # [(vital, value)]
    icd10_codes: list
    modalities: list
    abnormal_flags: list


def extract_labs(text: str) -> list:
    """Labs-only slice of extract_record — same patterns, same order, same
    tuples. Exists so lab-only consumers (lab_trends) can skip the
    vitals/ICD-10/modality/abnormal passes: UDF-level column pruning that
    Catalyst cannot do into a Python kernel."""
    labs = []
    for test, pat in LAB_PATTERNS.items():
        m = pat.search(text)
        if m:
            raw = m.group(1).lstrip("<")
            try:
                value = float(raw)
            except ValueError:
                continue
            unit = (m.group(2) if pat.groups >= 2 else None) or REFERENCE_RANGES.get(
                test, (0, 0, "")
            )[2]
            labs.append((test, value, unit, get_lab_status(value, test)))
    return labs


def extract_record(text: str) -> ExtractedRecord:
    labs = extract_labs(text)
    vitals = []
    for vital, pat in VITAL_PATTERNS.items():
        m = pat.search(text)
        if m:
            try:
                vitals.append((vital, float(m.group(1))))
                if vital == "BP":  # group 2 is diastolic
                    vitals.append(("BP_DIA", float(m.group(2))))
            except ValueError:
                pass
    icd = sorted({m.group(1) for m in ICD10_RE.finditer(text)})
    modalities = sorted({parse_modality(m.group(0)) for m in MODALITY_RE.finditer(text)})
    abnormal = sorted({m.group(1).lower() for m in ABNORMAL_RE.finditer(text)})
    return ExtractedRecord(labs, vitals, icd, modalities, abnormal)

