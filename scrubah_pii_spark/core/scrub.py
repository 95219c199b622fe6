"""Deterministic medical-PII scrub cascade (the "Effect rule set").

This is a from-scratch Python implementation of the scrub semantics specified by
the reference's deterministic regex path:
  pass order + splice semantics   /root/reference/services/piiScrubber.effect.ts:321-614
  PII_PATTERNS (regex, verbatim)  /root/reference/schemas/schemas.ts:1143-1154
  MRN_CONTEXT_KEYWORDS            /root/reference/schemas/schemas.ts:1159-1168
  NAME_LABELS                     /root/reference/schemas/schemas.ts:1052-1069
expectation fixtures ported from /root/reference/test/piiScrubber.test.ts and
/root/reference/test/pii-leak.test.ts.

Semantics that MUST hold for byte-identical output (and do, see tests):
  * Each pass re-scans the already-rewritten text; pass order changes results.
  * Matches are collected first (non-overlapping, left-to-right), then spliced
    back-to-front so earlier indices stay valid.
  * A previously unseen value increments its counter at the moment it is first
    visited — i.e. placeholder numbers are assigned in REVERSE document order.
    Repeated values reuse their placeholder (one placeholder, N occurrences).
  * The `ID` counter namespace is SHARED across SSN, CREDIT_CARD and MRN (and
    the SSN-last-4 / SSN-OCR-noise passes).
  * JS `\\w`/`\\b`/`\\d` are ASCII — all patterns compile with re.ASCII.

Everything is module-level and pure so pandas UDFs pay compile cost once per
executor, never per row (no per-row Python beyond the vectorized batch loop).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

A = re.ASCII
I = re.IGNORECASE

# --- pattern bank (regexes verbatim from the reference SSOT, translated JS->re) ---
PII_PATTERNS = {
    "EMAIL": re.compile(r"\b[\w.-]+@[\w.-]+\.\w{2,}\b", A),
    "PHONE": re.compile(r"(?:\+?1[-. ]?)?\(?([0-9]{3})\)?[-. ]?([0-9]{3})[-. ]?([0-9]{4})", A),
    "SSN": re.compile(r"\b\d{3}[-\s]?\d{2}[-\s]?\d{4}\b", A),
    "DATE": re.compile(r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b", A),
    "CREDIT_CARD": re.compile(r"\b(?:\d{4}[-\s]?){3}\d{4}\b", A),
    "ZIPCODE": re.compile(r"\b\d{5}(?:-\d{4})?\b", A),
    "ADDRESS": re.compile(
        r"\b\d+\s+[\w\s]+\s+(?:Street|St|Avenue|Ave|Road|Rd|Boulevard|Blvd|Drive|Dr|Lane|Ln"
        r"|Way|Court|Ct|Circle|Cir|Parkway|Pkwy|Place|Pl)\.?"
        r"(?:\s+(?:Apt|Suite|Unit|#)\.?\s*[\w\d]+)?\b",
        A | I,
    ),
    "CITY_STATE": re.compile(r"\b[A-Z][a-zA-Z\s]+,\s*[A-Z]{2}\b", A),
    "PO_BOX": re.compile(r"\bP\.?\s*O\.?\s*Box\s+\d+\b", A | I),
}

MRN_CONTEXT_KEYWORDS = (
    "MRN",
    "Medical Record Number",
    "Patient ID",
    "Patient Number",
    "Record Number",
    "Chart Number",
    "Account Number",
    "Member ID",
)

NAME_LABELS = (
    "Patient Name",
    "Name",
    "Full Name",
    "Legal Name",
    "Patient",
    "Attending",
    "Physician",
    "Doctor",
    "Nurse",
    "Provider",
    "patientName",
    "patient_name",
    "fullName",
    "full_name",
    "legalName",
    "legal_name",
)

_MRN_RE = re.compile(
    "(" + "|".join(MRN_CONTEXT_KEYWORDS) + r")[:\s]+([A-Z0-9]{6,12})\b", A | I
)
_LABELED_NAME_RE = re.compile(
    "(" + "|".join(re.escape(l) for l in NAME_LABELS) + r")[:\s]+"
    r"(?:(Dr\.|Mr\.|Ms\.|Mrs\.|Miss|Nurse)\s+)?([A-Z][a-z]+(?:\s+[A-Z][a-z]+)+)",
    A | I,
)
_LABELED_NAME_GUARD = re.compile(r"\b[A-Z][a-z]{1,}\s+[A-Z][a-z]{1,}\b", A)

_FULL_NAME_RE = re.compile(r"\b[A-Z][a-z]{2,}\s+[A-Z][a-z]{2,}\b", A)
_TITLED_NAME_RE = re.compile(r"\b(?:Dr|Mr|Ms|Mrs)\.?\s+[A-Z][a-z]{2,}\s+[A-Z][a-z]{2,}\b", A)

_PATIENT_NAME_LABEL_RE = re.compile(r"\bPatient Name\b", A | I)
_ATTENDING_RE = re.compile(r"\bAttending Physician\b", A | I)
_DR_DUP_RE = re.compile(r"\bDr\.?\s+Dr\.?\b", A)
_PATIENT_LABEL_RE = re.compile(
    r"(^|[\r\n]\s*)Patient\s+([A-Za-z0-9]{2,}\s+[A-Za-z0-9]{2,})\b", A | re.MULTILINE
)
_PATIENT_LOWER_RE = re.compile(r"\bpatient\s+([a-z]{2,})\s+([a-z]{2,})\b", A)
_PATIENT_UPPER_RE = re.compile(r"\bPATIENT\s+([A-Z]{2,})\s+([A-Z]{2,})\b", A)
_SSN_LAST4_RE = re.compile(r"\bSSN\s+ending\s+in\s+(\d{4})\b", A | I)
_SSN_OCR_RE = re.compile(r"\b[lI]\d{2}[-\s]?\d{2}[-\s]?\d{4}\b", A)
_WS_RE = re.compile(r"\s+")

_PATIENT_LABEL_STOPWORDS = frozenset(
    """has have had is was were reports report presenting presents denies with seen
    admitted discharged underwent prescribed""".split()
)
_PATIENT_INLINE_STOPWORDS = _PATIENT_LABEL_STOPWORDS | frozenset(
    ["elevated", "normal", "low", "high"]
)

COUNTER_KEYS = (
    "PER", "LOC", "ORG", "EMAIL", "PHONE", "ID", "ADDRESS",
    "CITY_STATE", "ZIP", "DATE", "NAME", "PATIENT", "PO_BOX",
)


@dataclass
class ScrubOutcome:
    text: str
    replacements: dict  # original value -> placeholder
    counters: dict      # per-namespace counters

    @property
    def count(self) -> int:
        # invariant: count == |replacements| (schemas.ts:76-83)
        return len(self.replacements)


class _State:
    __slots__ = ("text", "replacements", "counters", "e2p")

    def __init__(self, text: str):
        self.text = text
        self.replacements: dict = {}
        self.counters = {k: 0 for k in COUNTER_KEYS}
        self.e2p: dict = {}  # entity value -> placeholder (persists across passes)


def _splice_backwards(st: _State, pattern: re.Pattern, counter_key: str, prefix: str) -> None:
    """Collect all matches, then replace from last to first; first-visit-new
    values (in that reverse order) get fresh counter numbers."""
    matches = list(pattern.finditer(st.text))
    for m in reversed(matches):
        value = m.group(0)
        if value not in st.e2p:
            st.counters[counter_key] += 1
            ph = f"[{prefix}_{st.counters[counter_key]}]"
            st.e2p[value] = ph
            st.replacements[value] = ph
        st.text = st.text[: m.start()] + st.e2p[value] + st.text[m.end():]


def _scrub_patient_label_names(st: _State) -> None:
    matches = list(_PATIENT_LABEL_RE.finditer(st.text))
    for m in reversed(matches):
        pfx = m.group(1) or ""
        name_only = m.group(2)
        toks = _WS_RE.split(name_only.strip())
        second = toks[1].lower() if len(toks) > 1 else None
        if second and second in _PATIENT_LABEL_STOPWORDS:
            continue
        full = f"{pfx}Patient {name_only}"
        if full not in st.e2p:
            st.counters["PATIENT"] += 1
            ph = f"[PATIENT-{st.counters['PATIENT']}]"
            st.e2p[full] = f"{pfx}{ph}"
            st.replacements[full] = f"{pfx}{ph}"
        st.text = st.text[: m.start()] + st.e2p[full] + st.text[m.start() + len(full):]


def _scrub_patient_inline(st: _State, pattern: re.Pattern, lead: str) -> None:
    matches = list(pattern.finditer(st.text))
    for m in reversed(matches):
        if m.group(1).lower() in _PATIENT_INLINE_STOPWORDS:
            continue
        if m.group(2).lower() in _PATIENT_INLINE_STOPWORDS:
            continue
        value = m.group(0)
        if value not in st.e2p:
            st.counters["PATIENT"] += 1
            ph = f"[PATIENT-{st.counters['PATIENT']}]"
            st.e2p[value] = f"{lead} {ph}"
            st.replacements[value] = f"{lead} {ph}"
        st.text = st.text[: m.start()] + st.e2p[value] + st.text[m.end():]


def _scrub_ssn_last4(st: _State) -> None:
    matches = list(_SSN_LAST4_RE.finditer(st.text))
    for m in reversed(matches):
        digits = m.group(1)
        if digits not in st.e2p:
            st.counters["ID"] += 1
            ph = f"[SSN_{st.counters['ID']}]"
            st.e2p[digits] = ph
            st.replacements[digits] = ph
        st.text = (
            st.text[: m.start()] + f"SSN ending in {st.e2p[digits]}" + st.text[m.end():]
        )


def _detect_contextual_mrn(text: str):
    out = []
    for m in _MRN_RE.finditer(text):
        value = m.group(2)
        start = m.end() - len(value)  # value sits at the end of the full match
        out.append((start, m.end(), value))
    return out


def _detect_labeled_names(text: str):
    out = []
    for m in _LABELED_NAME_RE.finditer(text):
        label, title, name = m.group(1), m.group(2), m.group(3)
        full = f"{title} {name}" if title else name
        # JS: match[0].indexOf(fullValue, label.length) + match.index
        rel = m.group(0).find(full, len(label))
        start = m.start() + rel
        out.append((start, start + len(full), full))
    return out


def _stage_label_normalize(st: _State) -> None:
    # 1. label-phrase rewrites so the generic-name regex can't match labels
    st.text = _PATIENT_NAME_LABEL_RE.sub("Patient_Name", st.text)
    st.text = _ATTENDING_RE.sub("Attending_Physician", st.text)
    # 2. title de-duplication ("Dr. Dr" -> "Dr.")
    st.text = _DR_DUP_RE.sub("Dr.", st.text)


def _stage_contextual_mrn(st: _State) -> None:
    # contextual MRN (shared ID counter), applied in reverse match order
    for start, end, value in reversed(_detect_contextual_mrn(st.text)):
        if value not in st.e2p:
            st.counters["ID"] += 1
            ph = f"[MRN_{st.counters['ID']}]"
            st.e2p[value] = ph
            st.replacements[value] = ph
        st.text = st.text[:start] + st.e2p[value] + st.text[end:]


def _stage_labeled_names(st: _State) -> None:
    for start, end, value in reversed(_detect_labeled_names(st.text)):
        if not _LABELED_NAME_GUARD.search(value.strip()):
            continue
        if value not in st.e2p:
            st.counters["NAME"] += 1
            ph = f"[NAME_{st.counters['NAME']}]"
            st.e2p[value] = ph
            st.replacements[value] = ph
        st.text = st.text[:start] + st.e2p[value] + st.text[end:]


def _build_stages(st: _State, enable_context_detection: bool):
    """The ordered cascade as named (pattern_type, thunk) stages. ONE source
    of truth for both scrub_text and scrub_text_audited — the order IS the
    byte-identical contract (piiScrubber.effect.ts:321-614)."""
    stages = [
        ("LABEL_NORMALIZE", lambda: _stage_label_normalize(st)),
        # 3-4. patient-labeled and inline patient names -> [PATIENT-n]
        ("PATIENT_LABEL", lambda: _scrub_patient_label_names(st)),
        ("PATIENT_INLINE_LOWER", lambda: _scrub_patient_inline(st, _PATIENT_LOWER_RE, "patient")),
        ("PATIENT_INLINE_UPPER", lambda: _scrub_patient_inline(st, _PATIENT_UPPER_RE, "PATIENT")),
        # 5-6. SSN variants sharing the ID counter
        ("SSN_LAST4", lambda: _scrub_ssn_last4(st)),
        ("SSN_OCR", lambda: _splice_backwards(st, _SSN_OCR_RE, "ID", "SSN")),
        # 7. structural patterns (order is part of the contract)
        ("EMAIL", lambda: _splice_backwards(st, PII_PATTERNS["EMAIL"], "EMAIL", "EMAIL")),
        ("PHONE", lambda: _splice_backwards(st, PII_PATTERNS["PHONE"], "PHONE", "PHONE")),
        ("SSN", lambda: _splice_backwards(st, PII_PATTERNS["SSN"], "ID", "SSN")),
        ("CREDIT_CARD", lambda: _splice_backwards(st, PII_PATTERNS["CREDIT_CARD"], "ID", "CARD")),
        ("ZIPCODE", lambda: _splice_backwards(st, PII_PATTERNS["ZIPCODE"], "ZIP", "ZIP")),
        ("DATE", lambda: _splice_backwards(st, PII_PATTERNS["DATE"], "DATE", "DATE")),
        ("NAME_FULL", lambda: _splice_backwards(st, _FULL_NAME_RE, "NAME", "NAME")),
        ("NAME_TITLED", lambda: _splice_backwards(st, _TITLED_NAME_RE, "NAME", "NAME")),
    ]
    if enable_context_detection:
        stages += [
            ("ADDRESS", lambda: _splice_backwards(st, PII_PATTERNS["ADDRESS"], "ADDRESS", "ADDR")),
            ("CITY_STATE", lambda: _splice_backwards(st, PII_PATTERNS["CITY_STATE"], "CITY_STATE", "CITY")),
            ("PO_BOX", lambda: _splice_backwards(st, PII_PATTERNS["PO_BOX"], "PO_BOX", "POBOX")),
        ]
    stages.append(("MRN_CONTEXT", lambda: _stage_contextual_mrn(st)))
    if enable_context_detection:
        stages.append(("LABELED_NAME", lambda: _stage_labeled_names(st)))
    return stages


def scrub_text(text: str, enable_context_detection: bool = True) -> ScrubOutcome:
    """Run the full deterministic scrub cascade over one document."""
    st = _State(text)
    for _, run in _build_stages(st, enable_context_detection):
        run()
    return ScrubOutcome(text=st.text, replacements=st.replacements, counters=st.counters)


def scrub_text_production(text: str) -> ScrubOutcome:
    """The App.tsx:123-151 PRODUCTION composition: worker rule set first
    (scrubber.worker.ts, forward-order counters), then the Effect pass over
    its output, replacement maps merged with the Effect pass winning key
    conflicts (the `{...regexResult.replacements, ...scrubResult.
    replacements}` spread at App.tsx:142-145); count is recomputed from the
    merged map (App.tsx:149).

    Determinism note: the reference's second pass runs {enableRegex: false,
    enableContextDetection: false, enableML: true} — a pure BERT-NER pass
    that is not byte-stable. Under the reference's own deterministic switch
    (enableML: false, schemas.ts:1083-1099 — the config its test suite
    pins), the second pass becomes the Effect regex cascade; we keep
    App.tsx's enableContextDetection=false for it, so the composed cascade
    is worker -> Effect(regex, no context stages)."""
    from . import scrub_worker

    w = scrub_worker.scrub_text_worker(text)
    e = scrub_text(w.text, enable_context_detection=False)
    merged = {**w.replacements, **e.replacements}
    return ScrubOutcome(text=e.text, replacements=merged, counters=e.counters)


def scrub_text_audited(text: str):
    """scrub_text (context stages on) + per-pattern audit entries
    (AuditCollector.log semantics, auditCollector.ts:38-52): (pattern_type,
    match_count, duration_ms) per stage, where match_count is the number of
    NEW unique values the stage replaced (invariant: sum == |replacements|
    == ScrubOutcome.count)."""
    import time

    st = _State(text)
    audit = []
    for name, run in _build_stages(st, True):
        before = len(st.replacements)
        t0 = time.perf_counter()
        run()
        audit.append((
            name,
            len(st.replacements) - before,
            (time.perf_counter() - t0) * 1000.0,
        ))
    outcome = ScrubOutcome(
        text=st.text, replacements=st.replacements, counters=st.counters
    )
    return outcome, audit

