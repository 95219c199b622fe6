"""Deterministic synthetic Common-Crawl-style webpage corpus (seed=42).

Implements FIXTURES.md §1-§3: table (url, warc_ts, html, text, lang) with
Zipf-skewed hosts, doc_class templates drawn from the reference's test
fixtures, and intentionally-invalid PII slot values
(/root/reference/services/testConstants.ts: .invalid TLDs, 000-SSNs,
555-01xx phones, TEST-prefixed MRNs, 00000 zips) so nothing real can leak.

Pure Python (no Spark import) so the same rows feed golden generation,
pytest, and the Spark writer.
"""

from __future__ import annotations

import datetime as dt
import random

SEED = 42

FIRST_NAMES = ["Alice", "Brandon", "Carla", "Derek", "Elena", "Felix", "Grace",
               "Hank", "Irene", "Jonas", "Karen", "Lewis", "Mona", "Nate",
               "Olga", "Peter", "Quinn", "Rosa", "Sam", "Tina"]
LAST_NAMES = ["Testwell", "Samplesen", "Mockley", "Fakerton", "Demoson",
              "Stubbins", "Dummyfield", "Placebo", "Trialman", "Specimen"]
STREETS = ["Main Street", "Oak Avenue", "Elm Road", "Pine Boulevard",
           "Maple Drive", "Cedar Lane", "Birch Court", "Walnut Way"]
CITIES = ["Boston", "Denver", "Austin", "Portland", "Madison", "Raleigh"]
STATES = ["MA", "CO", "TX", "OR", "WI", "NC"]

GERMAN_TEXT = (
    "Der Patient wurde in die Klinik aufgenommen und die Untersuchung ist "
    "ohne Befund. Die Behandlung ist wichtig für das Ergebnis und der Arzt "
    "hat die Medikamente verschrieben. Die Werte sind nicht auffällig und "
    "der Verlauf ist stabil. Die Entlassung erfolgt mit einem Brief an den "
    "Hausarzt und die Nachsorge ist geplant."
)
FRENCH_TEXT = (
    "Le patient est admis dans la clinique et les médecins sont présents "
    "pour une opération. Les résultats sont dans les limites normales et le "
    "traitement est efficace. La sortie est prévue pour la semaine prochaine "
    "et les soins de suivi sont organisés avec le médecin traitant."
)

# Neutral narrative filler (no clinical/garbage indicator terms) so kept-class
# docs differ textually like real web pages — without this, scrubbed+normalized
# docs of one class collapse into a single giant near-dup cluster, which is
# neither realistic nor a useful scaling benchmark shape.
FILLER_SENTENCES = [
    "The morning shift completed the usual rounds without notable events.",
    "Records were reviewed and filed according to the standard checklist.",
    "Family members were present during the afternoon conversation.",
    "The weather delayed several arrivals earlier in the week.",
    "Staffing for the weekend was arranged ahead of schedule.",
    "A quiet corridor on the third floor is being repainted this month.",
    "The cafeteria menu rotated to the seasonal selection on Monday.",
    "Parking validation is available at the front desk for visitors.",
    "An updated directory was posted near the main elevators.",
    "The annual training session concluded with a short questionnaire.",
    "Maintenance replaced the corridor lighting over the weekend.",
    "New signage was installed near the east entrance last Tuesday.",
    "The volunteer group organized a small event in the garden.",
    "A reminder about the updated visiting hours was circulated.",
    "The library cart now visits the ward twice per week.",
    "Window washing is scheduled for the first week of the month.",
    "The shuttle timetable changed slightly for the holiday period.",
    "A suggestion box was placed beside the information counter.",
    "The quarterly newsletter highlighted several community programs.",
    "Garden seating was expanded with four additional benches.",
]


def _filler(rng):
    n = rng.randrange(2, 6)  # 2..5 sentences
    return " ".join(_pick(rng, FILLER_SENTENCES) for _ in range(n))


HOSPITAL_HEADER = "SAINT EXAMPLE MEDICAL CENTER\n100 Hospital Way\nRecords Department"
HOSPITAL_FOOTER = (
    "This document contains confidential patient information.\n"
    "Page 1 of 1 - Saint Example Medical Center Records"
)

DOC_CLASS_WEIGHTS = [
    ("discharge_summary", 14),
    ("soap_note", 13),
    ("lab_report", 13),
    ("surgery_report", 9),
    ("progress_note_light", 9),
    ("insurance_card", 5),
    ("billing_statement", 4),
    ("templated_lab_series", 10),
    ("garbage_ocr", 5),
    ("short_doc", 3),
    ("non_english", 7),
    ("ocr_noise_pii", 3),
    ("repeated_entity", 3),
    ("placeholder_spam", 2),
]
# exact/near duplicates are injected on top (see generate_rows)


def _pick(rng: random.Random, seq):
    return seq[rng.randrange(len(seq))]


def _name(rng):
    return f"{_pick(rng, FIRST_NAMES)} {_pick(rng, LAST_NAMES)}"


def _mrn(rng):
    return f"TEST{rng.randrange(0, 999999):06d}"


def _ssn(rng):
    return f"000-00-{rng.randrange(1, 9999):04d}"


def _phone(rng):
    return f"555-01{rng.randrange(0, 9):01d}-{rng.randrange(0, 9999):04d}"


def _email(rng):
    return f"test-{rng.randrange(0, 9999):04d}@example.invalid"


def _date(rng):
    return f"{rng.randrange(1, 12):02d}/{rng.randrange(1, 28):02d}/{rng.randrange(2020, 2026)}"


def _vitals(rng):
    return (
        f"BP {rng.randrange(100, 180)}/{rng.randrange(60, 100)}, "
        f"HR {rng.randrange(55, 110)}, Temp 98.{rng.randrange(0, 9)}F"
    )


def make_doc(rng: random.Random, doc_class: str) -> str:
    name, doctor = _name(rng), _name(rng)
    date1, date2 = _date(rng), _date(rng)
    mrn, ssn, phone, email = _mrn(rng), _ssn(rng), _phone(rng), _email(rng)
    city, state = _pick(rng, CITIES), _pick(rng, STATES)
    wbc = f"{rng.randrange(40, 160) / 10:.1f}"
    hgb = f"{rng.randrange(90, 170) / 10:.1f}"

    if doc_class == "discharge_summary":
        return (
            f"DISCHARGE SUMMARY\n"
            f"Patient Name: {name}\nDOB: {date1}\nMRN: {mrn}\n"
            f"Date of Admission: {date2}\nAttending Physician: Dr. {doctor}\n\n"
            f"The patient was admitted with pneumonia and sepsis was ruled out. "
            f"Treatment with antibiotic therapy was administered and the condition "
            f"improved steadily. Examination on discharge showed stable vital signs. "
            f"The patient was discharged home with follow-up care arranged.\n"
            f"{_filler(rng)}"
        )
    if doc_class == "soap_note":
        return (
            f"SOAP NOTE\n"
            f"Patient {name} (DOB {date1}, MRN {mrn})\n"
            f"Phone: {phone}, Email: {email}\n"
            f"SUBJECTIVE: The patient reports chest pain and mild dyspnea since last visit.\n"
            f"OBJECTIVE: {_vitals(rng)}. Examination shows no edema.\n"
            f"ASSESSMENT: Hypertension, well controlled. No new diagnosis today.\n"
            f"PLAN: Continue current medication and therapy. Return in 3 months.\n"
            f"{_filler(rng)}"
        )
    if doc_class == "lab_report":
        return (
            f"LABORATORY REPORT\n"
            f"Patient: {name}\nSSN: {ssn}\nCollected: {date1}\n\n"
            f"Complete Blood Count:\n"
            f"WBC: {wbc} K/uL\nHGB: {hgb} g/dL (Low, reference: 12-16)\n"
            f"Platelet: {rng.randrange(140, 420)} K/uL (Normal)\n\n"
            f"Chemistry Panel:\n"
            f"Glucose: {rng.randrange(70, 220)} mg/dL (Elevated, reference: 70-100)\n"
            f"Creatinine: {rng.randrange(6, 24) / 10:.1f} mg/dL\n"
            f"Sodium: {rng.randrange(132, 146)} mEq/L\n\n"
            f"Clinical interpretation: Elevated glucose suggests poor diabetic control.\n"
            f"{_filler(rng)}"
        )
    if doc_class == "surgery_report":
        return (
            f"OPERATIVE REPORT\n"
            f"Patient underwent laparoscopic procedure on {date1}.\n"
            f"Pre-operative diagnosis: Acute cholecystitis.\n"
            f"Procedure performed by Dr. {doctor}.\n"
            f"Estimated blood loss minimal. No complications observed.\n"
            f"Patient tolerated procedure well and was transferred to recovery "
            f"in stable condition. Discharged on {date2} with improved symptoms.\n"
            f"{_filler(rng)}"
        )
    if doc_class == "progress_note_light":
        return (
            f"PROGRESS NOTE\n"
            f"Seen in clinic on {date1}.\n"
            f"Chief complaint: Follow-up visit.\n"
            f"Vital signs stable. Reports feeling better.\n"
            f"Plan: Continue current medications. Return to clinic in 3 months."
        )
    if doc_class == "insurance_card":
        return (
            f"Insurance Information\n\n"
            f"Member Name: {name}\nMember ID: INS{rng.randrange(0, 10**8):08d}\n"
            f"Group Number: GRP{rng.randrange(0, 10**6):06d}\nDate of Birth: {date1}\n\n"
            f"Primary Care Provider: Dr. {doctor}\nProvider Phone: {phone}\n\n"
            f"Company Address: {rng.randrange(100, 999)} {_pick(rng, STREETS)}\n"
            f"{city}, {state} 00000\nCustomer Service: {_phone(rng)}"
        )
    if doc_class == "billing_statement":
        return (
            f"Billing Statement\n\n"
            f"Patient: {name}\nAccount Number: ACC{rng.randrange(0, 10**8):08d}\n"
            f"Date of Service: {date1}\n\n"
            f"Charges:\nOffice Visit: ${rng.randrange(80, 400)}.00\n"
            f"Lab Tests: ${rng.randrange(40, 900)}.00\n\n"
            f"Payment Due: {date2}\nPlease remit payment to: P.O. Box {rng.randrange(100, 9999)}"
        )
    if doc_class == "templated_lab_series":
        return (
            f"{HOSPITAL_HEADER}\n"
            f"Patient Name: {name}\nMRN: {mrn}\nDOB: {date1}\n"
            f"LABORATORY REPORT\n"
            f"Collected: {date2}\n"
            f"WBC: {wbc} K/uL\nHGB: {hgb} g/dL\n"
            f"Notes: values reviewed, no critical results.\n"
            f"{HOSPITAL_FOOTER}"
        )
    if doc_class == "garbage_ocr":
        runs = ["%%%%%%%%", "||||||||||", "________", "........", "=======",
                "@@@@@@", "~~~~~~~~", "]]]]][[[[["]
        return " ".join(_pick(rng, runs) for _ in range(rng.randrange(4, 9)))
    if doc_class == "short_doc":
        return " ".join(["ok", "fine", "yes", "done"][: rng.randrange(1, 4)])
    if doc_class == "non_english":
        return GERMAN_TEXT if rng.random() < 0.5 else FRENCH_TEXT
    if doc_class == "ocr_noise_pii":
        return (
            f"SCANNED RECORD\n"
            f"SSN: l23-45-{rng.randrange(1000, 9999)}\n"
            f"SSN ending in {rng.randrange(1000, 9999)}\n"
            f"Contact phone {phone} for the examination appointment.\n"
            f"The patient condition improved after treatment and therapy."
        )
    if doc_class == "repeated_entity":
        return (
            f"REFERRAL LETTER\n"
            f"Please contact {email} about the diagnosis and treatment plan. "
            f"A copy was sent to {email} for the procedure records. "
            f"Final confirmation should go to {email} after the examination."
        )
    if doc_class == "placeholder_spam":
        toks = [f"[PER_{i}]" for i in range(1, 6)] + [f"[DATE_{i}]" for i in range(1, 6)]
        return " ".join(_pick(rng, toks) for _ in range(rng.randrange(25, 60)))
    raise ValueError(doc_class)


def _weighted_class(rng) -> str:
    total = sum(w for _, w in DOC_CLASS_WEIGHTS)
    x = rng.randrange(total)
    acc = 0
    for cls, w in DOC_CLASS_WEIGHTS:
        acc += w
        if x < acc:
            return cls
    return DOC_CLASS_WEIGHTS[-1][0]


def _host(rng) -> str:
    # Zipf-like: a few hosts own ~30% of rows (exercises salted repartition)
    r = rng.random()
    if r < 0.30:
        return f"host-{rng.randrange(3):04d}"
    return f"host-{3 + rng.randrange(997):04d}"


_EPOCH = dt.datetime(2023, 1, 1)
_SPAN_S = int((dt.datetime(2025, 12, 31) - _EPOCH).total_seconds())


def generate_rows(n: int, seed: int = SEED) -> list:
    """n base rows + ~8% injected exact/near duplicates appended after."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        doc_class = _weighted_class(rng)
        text = make_doc(rng, doc_class)
        ts = _EPOCH + dt.timedelta(seconds=rng.randrange(_SPAN_S))
        lang = "en"
        if doc_class == "non_english":
            lang = "de" if "Patient wurde" in text else "fr"
        elif rng.random() < 0.02:
            lang = "xx"
        rows.append(
            {
                "url": f"https://{_host(rng)}.example.invalid/doc/{i:06d}",
                "warc_ts": ts,
                "html": f"<html><body><pre>{text}</pre></body></html>".encode(),
                "text": text,
                "lang": lang,
                "doc_class": doc_class,
            }
        )
    # duplicate injections referencing base rows
    n_dup = max(1, n // 12)
    for j in range(n_dup):
        src = rows[rng.randrange(len(rows))]
        kind = rng.random()
        text = src["text"]
        if kind < 0.5:
            doc_class = "exact_duplicate"
        elif kind < 0.8:
            doc_class = "near_duplicate"
            text = text + "\nAddendum: reviewed and signed."
        else:
            doc_class = "same_event_pair"
            text = text.replace("Notes:", "Addendum notes:") + "\nSecond report for the same encounter."
        ts = src["warc_ts"] + dt.timedelta(hours=rng.randrange(1, 48))
        i = n + j
        rows.append(
            {
                "url": f"https://{_host(rng)}.example.invalid/doc/{i:06d}",
                "warc_ts": ts,
                "html": f"<html><body><pre>{text}</pre></body></html>".encode(),
                "text": text,
                "lang": src["lang"],
                "doc_class": doc_class,
            }
        )
    return rows


def write_parquet(rows: list, path: str) -> None:
    """Write rows as a single parquet file (pyarrow; no Spark needed).
    Small row groups (8192 rows) keep the file splittable — Spark parallelizes a single
    parquet file at row-group boundaries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": [r["html"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
            "doc_class": [r["doc_class"] for r in rows],
        }
    )
    pq.write_table(table, path, row_group_size=8192)
