"""YAML compression sink (services/compression/yaml.ts) and audit collector
(services/auditCollector.ts) parity tests — layout, escaping, and the
summary invariants the reference's own suites assert
(test/compression.test.ts; matchCount == |replacements|)."""

from __future__ import annotations

from scrubah_pii_spark.core.scrub import scrub_text, scrub_text_audited
from scrubah_pii_spark.core.yaml_sink import YAMLBuilder, escape_yaml, generate_yaml


def _minimal_yaml():
    return generate_yaml(
        patient_id=7,
        age_at_first_visit=41,
        date_start_iso="2024-01-01",
        date_end_iso="2024-03-01",
        duration_days=60,
        total_documents=2,
        total_events=2,
        events=[
            (1, "2024-01-01", "lab", "doc-1", 1),
            (2, "2024-03-01", "visit", "doc-2", 1),
        ],
        original_size_kb=0.4,
        compressed_size_kb=0.2,
        ratio=0.5,
        events_total=2,
        events_included=2,
        deduplication="exact",
        generated_at_iso="2026-01-01T00:00:00.000Z",
    )


class TestYamlBuilder:
    def test_indent_outdent(self):
        b = YAMLBuilder()
        b.add_line("a:").indent().add_line("b: 1").outdent().add_line("c: 2")
        assert b.build() == "a:\n  b: 1\nc: 2"

    def test_outdent_floor_at_zero(self):
        b = YAMLBuilder()
        b.outdent().add_line("x")
        assert b.build() == "x"

    def test_escape_yaml(self):
        assert escape_yaml("plain text") == "plain text"
        assert escape_yaml("has: colon") == '"has: colon"'
        assert escape_yaml('say "hi" #now') == '"say \\"hi\\" #now"'


class TestGenerateYaml:
    def test_layout_sections_in_order(self):
        y = _minimal_yaml()
        lines = y.split("\n")
        assert lines[0] == "# " + "=" * 70
        assert "# COMPRESSED MEDICAL TIMELINE" in lines[1]
        for marker in ("metadata:", "patient:", "dateRange:", "timeline:"):
            assert any(l == marker for l in lines), marker
        order = [y.index(m) for m in ("metadata:", "patient:", "dateRange:", "timeline:")]
        assert order == sorted(order)
        # timeline entry layout: 2-space item, 4-space fields
        assert "  - id: 1" in lines
        assert "    date: 2024-01-01" in lines
        assert "    confidence: 1" in lines
        # compression numbers use toFixed(2) / percent with one decimal
        assert "    originalSizeKb: 0.40" in lines
        assert "    ratio: 50.0%" in lines
        # the reference's sections without data are absent
        assert "medications:" not in y and "labTrends:" not in y and "warnings:" not in y


class TestScrubAudit:
    PROBE = (
        "note Contact: user9@example.com Phone: 555-123-4567 "
        "SSN: 123-45-6789 zip 90210 on 12/01/2024 end"
    )

    def test_audited_matches_plain_scrub(self):
        plain = scrub_text(self.PROBE)
        audited, audit = scrub_text_audited(self.PROBE)
        assert audited.text == plain.text
        assert audited.replacements == plain.replacements

    def test_match_count_invariant(self):
        out, audit = scrub_text_audited(self.PROBE)
        assert sum(c for _, c, _ in audit) == out.count == len(out.replacements)

    def test_per_pattern_counts(self):
        _, audit = scrub_text_audited(self.PROBE)
        counts = {n: c for n, c, _ in audit if c > 0}
        assert counts == {"EMAIL": 1, "PHONE": 1, "SSN": 1, "ZIPCODE": 1, "DATE": 1}

    def test_durations_nonnegative(self):
        _, audit = scrub_text_audited(self.PROBE)
        assert all(ms >= 0.0 for _, _, ms in audit)
        assert len(audit) == 19  # every cascade stage is logged
