"""Worker-rule-set tests: semantics from scrubber.worker.ts (forward-order
numbering, acronym whitelist, state guard) + byte-parity vs native-JS harness."""

import json
import shutil
import subprocess
from pathlib import Path

import pytest

from scrubah_pii_spark.core.scrub_worker import scrub_text_worker
from scrubah_pii_spark.sources.synth import generate_rows

HARNESS = Path(__file__).resolve().parent.parent / "tools" / "scrub_worker_harness.mjs"
node = shutil.which("node")


class TestWorkerSemantics:
    def test_forward_order_numbering(self):
        # worker EMAIL TLD is \\w{2,4} — ".invalid" (7 chars) is intentionally
        # NOT matched (faithful to scrubber.worker.ts:27); use short TLDs
        r = scrub_text_worker("first@a.test then second@b.test")
        assert r.replacements["first@a.test"] == "[EMAIL_1]"
        assert r.replacements["second@b.test"] == "[EMAIL_2]"

    def test_acronym_whitelist_preserved(self):
        r = scrub_text_worker("CBC and MRI were reviewed for UNKNOWNCAPS")
        assert "CBC" in r.text and "MRI" in r.text
        assert "UNKNOWNCAPS" not in r.text

    def test_all_caps_name(self):
        r = scrub_text_worker("Seen by SMITH, JOHN at clinic")
        assert "SMITH, JOHN" not in r.text
        assert "[PER_" in r.text

    def test_state_guard_inside_placeholder(self):
        r = scrub_text_worker("Resident of CA since 2001")
        assert "[STATE_" in r.text

    def test_ssn_partial(self):
        r = scrub_text_worker("SSN last 4: 1234 on file")
        assert "1234" not in r.text

    def test_written_dates(self):
        r = scrub_text_worker("Admitted January 5th, 2024 and seen 5th of January")
        assert "January" not in r.text

    def test_age(self):
        r = scrub_text_worker("Patient is 62 years old, aged 62")
        assert "62 years old" not in r.text

    def test_insurance_id(self):
        r = scrub_text_worker("Member ID: ABC12345 active")
        assert "ABC12345" not in r.text

    def test_labeled_name_shapes(self):
        r = scrub_text_worker("Patient Name: Dr. Jane Doe\nName: DOE, JANE")
        assert "Jane Doe" not in r.text

    def test_count_tracks_new_values(self):
        r = scrub_text_worker("x@y.test and x@y.test again")
        assert r.count == len(r.replacements) == 1

    def test_audit_entries(self):
        r = scrub_text_worker("mail test@x.org phone 555-010-0000")
        by_name = {a.pattern_name: a for a in r.audit}
        assert by_name["EMAIL"].match_count == 1
        assert by_name["EMAIL"].replacements[0][0] == "test@x.org"


@pytest.mark.skipif(node is None, reason="node unavailable")
def test_worker_scrub_byte_parity_vs_js():
    rows = generate_rows(300)
    docs = [{"url": r["url"], "text": r["text"]} for r in rows]
    proc = subprocess.run(
        [node, str(HARNESS)], input=json.dumps(docs),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[:2000]
    js_out = {d["url"]: d for d in json.loads(proc.stdout)}
    mismatches = []
    for r in rows:
        py = scrub_text_worker(r["text"])
        js = js_out[r["url"]]
        if py.text != js["scrubbed"] or py.replacements != js["replacements"]:
            mismatches.append((r["url"], r["doc_class"], py.text, js["scrubbed"]))
    if mismatches:
        url, cls, a, b = mismatches[0]
        pytest.fail(f"{len(mismatches)}/{len(rows)} mismatches; first {url} ({cls}):\nPY: {a!r}\nJS: {b!r}")
