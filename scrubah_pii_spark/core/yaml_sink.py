"""YAML compression sink — LLM-optimized hierarchical timeline output.

From-scratch port of /root/reference/services/compression/yaml.ts:
  YAMLBuilder (2-space indent builder)     :29-64
  formatDate (ISO date only)               :69-71
  escapeYAML (quote on special chars)      :76-82
  generateTimelineSection                  :87-109
  generateMetadataSection                  :114-136
  generateDemographicsSection              :191-218
  generateYAML (section order + header)    :318-358
The errors (:141-186), medications (:223-268) and lab-trends (:273-311)
sections are not ported: the reference leaves them out when empty, and no
query has data for them.

Deterministic variant: generated_at is a parameter (the reference stamps
new Date()); all other content is a pure function of its inputs.
"""

from __future__ import annotations

import re

_SPECIAL_RE = re.compile(r"[:#\[\]{}|>*&!%@`]")


class YAMLBuilder:
    def __init__(self):
        self._lines: list = []
        self._indent = 0

    def indent(self):
        self._indent += 2
        return self

    def outdent(self):
        self._indent = max(0, self._indent - 2)
        return self

    def add_line(self, content: str):
        self._lines.append(" " * self._indent + content)
        return self

    def add_blank_line(self):
        self._lines.append("")
        return self

    def add_comment(self, comment: str):
        self._lines.append(" " * self._indent + f"# {comment}")
        return self

    def build(self) -> str:
        return "\n".join(self._lines)


def escape_yaml(s: str) -> str:
    if _SPECIAL_RE.search(s):
        return '"' + s.replace('"', '\\"') + '"'
    return s


def _fmt2(x: float) -> str:
    """JS Number.toFixed(2)."""
    return f"{x:.2f}"


def generate_yaml(
    patient_id,
    age_at_first_visit: int,
    date_start_iso: str,          # YYYY-MM-DD
    date_end_iso: str,
    duration_days: int,
    total_documents: int,
    total_events: int,
    events: list,                 # [(id, date_iso, type, source, confidence)]
    original_size_kb: float,
    compressed_size_kb: float,
    ratio: float,
    events_total: int,
    events_included: int,
    deduplication: str,
    generated_at_iso: str,
) -> str:
    """The timeline document: header, metadata, demographics, date range
    and timeline sections. The reference omits its medications, lab-trend
    and errors sections when they are empty, and the engine has no data
    for them, so they are not built."""
    b = YAMLBuilder()

    # header comment block
    b.add_comment("=" * 70)
    b.add_comment("COMPRESSED MEDICAL TIMELINE")
    b.add_comment("Generated by Scrubah.PII - Zero-trust medical data sanitizer")
    b.add_comment("All PII has been redacted and replaced with placeholders")
    b.add_comment("=" * 70)
    b.add_blank_line()

    # metadata
    b.add_line("metadata:")
    b.indent()
    b.add_line(f"generatedAt: {generated_at_iso}")
    b.add_line('version: "1.0.0"')
    b.add_line('schemaVersion: "1.0.0"')
    b.add_blank_line()
    b.add_line("compression:")
    b.indent()
    b.add_line(f"originalSizeKb: {_fmt2(original_size_kb)}")
    b.add_line(f"compressedSizeKb: {_fmt2(compressed_size_kb)}")
    b.add_line(f"ratio: {ratio * 100:.1f}%")
    b.add_line(f"eventsTotal: {events_total}")
    b.add_line(f"eventsIncluded: {events_included}")
    b.add_line(f"eventsRemoved: {events_total - events_included}")
    b.add_line(f"deduplication: {deduplication}")
    b.outdent()
    b.outdent()
    b.add_blank_line()

    # demographics
    b.add_line("patient:")
    b.indent()
    b.add_line(f"id: {patient_id}")
    b.add_line(f"ageAtFirstVisit: {age_at_first_visit}")
    b.outdent()
    b.add_blank_line()
    b.add_line("dateRange:")
    b.indent()
    b.add_line(f"start: {date_start_iso}")
    b.add_line(f"end: {date_end_iso}")
    b.add_line(f"durationDays: {duration_days}")
    b.outdent()
    b.add_blank_line()
    b.add_line(f"totalDocuments: {total_documents}")
    b.add_line(f"totalEvents: {total_events}")
    b.add_blank_line()

    # timeline events
    b.add_line("timeline:")
    b.indent()
    for ev_id, date_iso, ev_type, source, confidence in events:
        b.add_line(f"- id: {ev_id}")
        b.indent()
        b.add_line(f"date: {date_iso}")
        b.add_line(f"type: {ev_type}")
        b.add_line(f"source: {escape_yaml(source)}")
        b.add_line(f"confidence: {confidence}")
        b.outdent()
    b.outdent()

    return b.build()
