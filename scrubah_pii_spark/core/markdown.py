"""Markdown sink formatting — exact layout of
/root/reference/services/markdownFormatter.effect.ts:68-118:
YAML-style frontmatter (JSON-encoded values), '# Document Extraction' header,
cleaned body, confidentiality footer; joined with '\\n'. The exact
join-with-newline layout matters for golden files (SURVEY §2.1)."""

from __future__ import annotations

import json

from .extract import clean_final_output

PROCESSING_ENGINE = "Scrubah.PII-Local-v2-HIPAA"


def format_to_markdown(
    source_file: str,
    file_size_bytes: int,
    file_type: str,
    scrubbed_text: str,
    pii_count: int,
    processed_date_iso: str,
) -> str:
    """Deterministic variant: processed_date is a parameter (the reference
    stamps new Date(); our pipeline passes a fixed/run timestamp so outputs
    are reproducible), the confidence score is 100 and processing_seconds
    reads "0.00" in place of the reference's stopwatch."""
    metadata = {
        "source_file": source_file,
        "file_size_bytes": file_size_bytes,
        "file_type": file_type,
        "processed_date": processed_date_iso,
        "pii_scrubbed_count": pii_count,
        "pii_confidence_score": 100,
        "processing_engine": PROCESSING_ENGINE,
        "processing_seconds": "0.00",
        "hipaa_compliant": True,
    }
    yaml_block = "\n".join(
        f"{k}: {json.dumps(v, separators=(',', ':'))}" for k, v in metadata.items()
    )
    clean_body = clean_final_output(scrubbed_text)
    return "\n".join(
        [
            "---",
            yaml_block,
            "---",
            "",
            "# Document Extraction",
            "",
            clean_body,
            "",
            "---",
            f"*CONFIDENTIALITY NOTICE: This document has been automatically "
            f"scrubbed of PII. Original entities replaced: {pii_count}.*",
        ]
    )
