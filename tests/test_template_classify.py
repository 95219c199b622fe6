"""Template classification tests — expectations ported from
/root/reference/test/templateDetection.test.ts:330-375."""

from scrubah_pii_spark.core.hashing import classify_template_type


class TestClassifyTemplateType:
    def test_header_patterns(self):
        assert classify_template_type("Patient Name: John Doe", "START") == "HEADER"
        assert classify_template_type("Patient ID: 123456", "START") == "HEADER"
        assert classify_template_type("DOB: 01/01/1990", "START") == "HEADER"
        assert classify_template_type("Date: 01/15/2025", "START") == "HEADER"
        assert classify_template_type("Medical Record #123456", "START") == "HEADER"

    def test_footer_patterns(self):
        assert classify_template_type("Page 1 of 5", "END") == "FOOTER"
        assert classify_template_type("Pg. 2/10", "END") == "FOOTER"
        assert classify_template_type("CLIA #12D3456789", "END") == "FOOTER"
        assert classify_template_type("Medical Director: Dr. Smith", "END") == "FOOTER"
        assert classify_template_type("CONFIDENTIAL - PHI", "END") == "FOOTER"

    def test_signature(self):
        assert classify_template_type("Electronically signed by", "MIDDLE") == "SIGNATURE"
        assert classify_template_type("Signed by Dr. Who", "MIDDLE") == "SIGNATURE"

    def test_position_fallback(self):
        assert classify_template_type("random repeated text", "START") == "HEADER"
        assert classify_template_type("random repeated text", "END") == "FOOTER"
        assert classify_template_type("random repeated text", "MIDDLE") == "BOILERPLATE"

    def test_medication_and_demographics(self):
        assert classify_template_type("metformin 500 mg tablet", "MIDDLE") == "MEDICATION_LIST"
        assert classify_template_type("insurance and phone on file", "MIDDLE") == "DEMOGRAPHICS"

