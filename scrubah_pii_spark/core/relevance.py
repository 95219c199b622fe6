"""Keep/drop relevance scoring ("GC for documents").

From-scratch Python implementation of the scoring semantics in
/root/reference/services/medicalRelevanceFilter.ts:
  term sets + weights      :49-137
  garbage indicators       :107-123
  placeholder density      :196-209
  medical density          :216-229
  generation (recency)     :262-290
  score arithmetic/verdict :297-385
This pure function is the F1>=0.99 oracle, and it is also the kernel the
Spark paths run: the flagship's fused doc-features UDF and the standalone
relevance UDF (``operators/scrub_op.py``) call it per document.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

CLINICAL_REFERENCES = {
    "DIAGNOSES": (
        "diagnosis", "diagnosed", "condition", "disease", "syndrome",
        "disorder", "infection", "cancer", "tumor", "carcinoma",
        "hypertension", "diabetes", "asthma", "copd", "pneumonia",
        "fracture", "stroke", "infarction", "failure", "insufficiency",
        "sepsis", "embolism", "thrombosis", "hemorrhage", "ischemia",
    ),
    "PROCEDURES": (
        "surgery", "procedure", "operation", "biopsy", "resection",
        "repair", "replacement", "transplant", "catheterization",
        "endoscopy", "colonoscopy", "laparoscopy", "arthroscopy",
        "imaging", "scan", "xray", "mri", "ct", "ultrasound", "pet",
    ),
    "OUTCOMES": (
        "improved", "worsened", "deteriorated", "stable", "resolved",
        "recovered", "discharged", "admitted", "transferred",
        "deceased", "expired", "died", "response", "remission",
        "progression", "relapse", "recurrence", "cure", "palliation",
    ),
    "TREATMENTS": (
        "treatment", "therapy", "medication", "prescription", "dose",
        "administered", "infusion", "injection", "prescribed",
        "chemotherapy", "radiation", "immunotherapy", "antibiotic",
        "antiviral", "analgesic", "steroid", "insulin", "warfarin",
    ),
    "LAB_VITALS": (
        "hemoglobin", "hematocrit", "glucose", "creatinine", "bun",
        "sodium", "potassium", "chloride", "calcium", "magnesium",
        "blood pressure", "heart rate", "temperature", "oxygen",
        "saturation", "white blood cell", "wbc", "platelet", "inr",
        "abnormal", "elevated", "decreased", "low", "high", "critical",
    ),
    "CLINICAL_FINDINGS": (
        "pain", "symptom", "complaint", "finding", "examination",
        "physical exam", "auscultation", "palpation", "percussion",
        "edema", "swelling", "rash", "lesion", "mass", "tenderness",
        "nausea", "vomiting", "diarrhea", "constipation", "dyspnea",
        "chest pain", "abdominal pain", "headache", "fever", "chills",
    ),
}

REFERENCE_WEIGHTS = {
    "DIAGNOSES": 3,
    "PROCEDURES": 3,
    "OUTCOMES": 5,
    "TREATMENTS": 2,
    "LAB_VITALS": 2,
    "CLINICAL_FINDINGS": 2,
}

GARBAGE_INDICATORS = (
    "insurance card", "insurance information", "billing statement",
    "payment", "invoice", "receipt", "claim form",
    "contact information", "emergency contact", "address",
    "registration form", "consent form", "authorization",
    "privacy notice", "hipaa", "patient rights",
    "appointment reminder", "missed appointment", "cancellation",
    "reschedule", "confirmation", "appointment card",
    "copy of", "duplicate", "fax cover", "blank page",
)

_PLACEHOLDER_RE = re.compile(r"\[[A-Z_]+_\d+\]", re.ASCII)
_WS_RE = re.compile(r"\s+")
_FILENAME_DATE_RE = re.compile(r"(\d{1,2}[-/]\d{1,2}[-/]\d{2,4})", re.ASCII)


@dataclass
class RelevanceScore:
    score: float
    placeholder_density: float
    medical_content_density: float
    clinical_references: int
    is_garbage: bool
    has_outcomes: bool
    has_diagnoses: bool
    has_procedures: bool
    has_lab_data: bool
    has_medications: bool
    generation: int
    recommendation: str  # keep | demote | discard
    reason: str


def reference_count(text: str) -> int:
    lower = text.lower()
    total = 0
    for cat, terms in CLINICAL_REFERENCES.items():
        w = REFERENCE_WEIGHTS[cat]
        total += sum(1 for t in terms if t in lower) * w
    return total


def is_garbage(text: str, filename: str) -> bool:
    lf, lt = filename.lower(), text.lower()
    return any(g in lf for g in GARBAGE_INDICATORS) or any(
        g in lt for g in GARBAGE_INDICATORS
    )


def placeholder_density(text: str) -> float:
    if len(text) == 0:
        return 1.0
    non_ws = len(_WS_RE.sub("", text))
    if non_ws == 0:
        return 1.0
    ph_chars = sum(len(p) for p in _PLACEHOLDER_RE.findall(text))
    return ph_chars / non_ws


def medical_density(text: str, ref_count: int) -> float:
    words = [w for w in _WS_RE.split(text) if w]
    if not words:
        return 0.0
    return min(1.0, ref_count * 1.5 / len(words))


def clinical_flags(text: str) -> dict:
    lower = text.lower()
    return {
        "has_diagnoses": any(t in lower for t in CLINICAL_REFERENCES["DIAGNOSES"]),
        "has_procedures": any(t in lower for t in CLINICAL_REFERENCES["PROCEDURES"]),
        "has_outcomes": any(t in lower for t in CLINICAL_REFERENCES["OUTCOMES"]),
        "has_lab_data": any(t in lower for t in CLINICAL_REFERENCES["LAB_VITALS"]),
        "has_medications": any(t in lower for t in CLINICAL_REFERENCES["TREATMENTS"]),
    }


def generation_from_filename(filename: str, current_year: int) -> int:
    """Years-old parsed from a date in the filename; no date => 2 (old gen)."""
    m = _FILENAME_DATE_RE.search(filename)
    if not m:
        return 2
    parts = re.split(r"[-/]", m.group(1))
    try:
        raw = parts[2]
        year = 2000 + int(raw) if len(raw) == 2 else int(raw)
        return max(0, current_year - year)
    except (IndexError, ValueError):
        return 2


def relevance_score(
    scrubbed_text: str, filename: str = "", generation: int | None = None,
) -> RelevanceScore:
    """Exact port of the scoring arithmetic. ``generation`` may be supplied
    directly (our pipeline derives it from warc_ts instead of a filename);
    otherwise it comes from the filename's date, as of 2026 (the year
    RelevanceConfig.current_year also fixes)."""
    refs = reference_count(scrubbed_text)
    garbage = is_garbage(scrubbed_text, filename)
    ph_density = placeholder_density(scrubbed_text)
    med_density = medical_density(scrubbed_text, refs)
    flags = clinical_flags(scrubbed_text)
    gen = generation if generation is not None else generation_from_filename(
        filename, 2026
    )

    score = 50.0
    if ph_density > 0.6:
        score -= 40
    elif ph_density > 0.4:
        score -= 25
    elif ph_density > 0.2:
        score -= 10
    score += med_density * 50
    score += min(30, refs * 2)
    if flags["has_diagnoses"]:
        score += 10
    if flags["has_procedures"]:
        score += 10
    if flags["has_outcomes"]:
        score += 15
    if flags["has_lab_data"]:
        score += 8
    if flags["has_medications"]:
        score += 7
    if garbage:
        score -= 50
    if gen == 0:
        score += 10
    elif gen == 1:
        score += 5
    score = max(0.0, min(100.0, score))

    if garbage:
        rec, reason = "discard", "Document identified as administrative/billing (no clinical value)"
    elif score >= 60:
        rec, reason = "keep", f"High clinical value (score: {score:.0f}/100)"
    elif score >= 30:
        rec, reason = "demote", f"Moderate clinical value (score: {score:.0f}/100)"
    else:
        rec, reason = "discard", (
            f"Low clinical value (score: {score:.0f}/100, "
            f"{ph_density * 100:.0f}% placeholders)"
        )

    return RelevanceScore(
        score=score,
        placeholder_density=ph_density,
        medical_content_density=med_density,
        clinical_references=refs,
        is_garbage=garbage,
        has_outcomes=flags["has_outcomes"],
        has_diagnoses=flags["has_diagnoses"],
        has_procedures=flags["has_procedures"],
        has_lab_data=flags["has_lab_data"],
        has_medications=flags["has_medications"],
        generation=gen,
        recommendation=rec,
        reason=reason,
    )
