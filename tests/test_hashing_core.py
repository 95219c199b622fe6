"""Fingerprint kernels: FNV-1a-64, SimHash (JS int32 parity), normalization,
n-grams. Expectations ported from
/root/reference/test/templateDetection.test.ts and contentHasher semantics."""

from engine_reference import (
    extract_ngrams,
    normalize_for_fingerprint,
    simhash_bits,
)
from scrubah_pii_spark.core.hashing import (
    content_hash,
    fnv1a64_hex,
    js_string_hash32,
    normalize_for_hashing,
    simhash_int,
    simhash_similarity,
)


class TestFnv1a:
    def test_deterministic(self):
        assert fnv1a64_hex("test input") == fnv1a64_hex("test input")

    def test_distinct(self):
        assert fnv1a64_hex("hello") != fnv1a64_hex("world")
        assert fnv1a64_hex("test1") != fnv1a64_hex("test2")

    def test_hex_format(self):
        for s in ["test", "", "こんにちは"]:
            h = fnv1a64_hex(s)
            assert len(h) == 16 and all(c in "0123456789abcdef" for c in h)

    def test_known_fnv_vectors(self):
        # Published FNV-1a-64 test vectors (public domain reference values)
        assert fnv1a64_hex("") == "cbf29ce484222325"
        assert fnv1a64_hex("a") == "af63dc4c8601ec8c"
        assert fnv1a64_hex("foobar") == "85944171f73967e8"


class TestNormalizeForFingerprint:
    def test_whitespace_collapse(self):
        assert normalize_for_fingerprint("hello   world") == "hello world"
        assert normalize_for_fingerprint("  hello\t\nworld  ") == "hello world"

    def test_lowercase(self):
        assert normalize_for_fingerprint("Hello World") == "hello world"

    def test_keep_numbers_by_default(self):
        assert normalize_for_fingerprint("hello world 42") == "hello world 42"

    def test_strip_numbers(self):
        assert normalize_for_fingerprint(
            "WBC 7.5 x10E3", strip_numbers=True
        ) == "wbc #.# x#e#"


class TestExtractNgrams:
    LINES = [
        "first line of the document",
        "second line with more content",
        "third line continues here",
        "fourth and final line",
    ]

    def test_window_counts(self):
        fps = extract_ngrams(self.LINES, 2, 3)
        sizes = [s for (_, s, _) in fps]
        assert sizes.count(2) == 3  # 0-1, 1-2, 2-3
        assert sizes.count(3) == 2  # 0-2, 1-3

    def test_line_starts(self):
        fps = extract_ngrams(self.LINES, 2, 2)
        assert [ls for (_, _, ls) in fps] == [0, 1, 2]

    def test_skips_near_empty(self):
        assert extract_ngrams(["a", "b", "c"], 2, 3) == []

    def test_same_content_same_hash(self):
        fp1 = extract_ngrams(self.LINES[:2], 2, 2)
        fp2 = extract_ngrams(self.LINES[:2], 2, 2)
        assert fp1[0][0] == fp2[0][0]


class TestJsHash32:
    def test_known_js_values(self):
        # Values computed by the standard JS ((h<<5)-h)+c int32 rolling hash
        # (same family as Java String.hashCode).
        assert js_string_hash32("") == 0
        assert js_string_hash32("a") == 97
        assert js_string_hash32("abc") == 96354  # Java/JS "abc".hashCode()
        assert js_string_hash32("hello") == 99162322
        # int32 overflow wraps (this is the `hash & hash` semantics)
        assert -(2**31) <= js_string_hash32("pneumonoultramicroscopic") < 2**31


class TestSimHash:
    def test_identical_text_identical_hash(self):
        t = "the patient was admitted with pneumonia and treated well"
        assert simhash_bits(t) == simhash_bits(t)
        assert len(simhash_bits(t)) == 64

    def test_bit_32_wraparound_mirror(self):
        bits = simhash_bits("some example words here")
        assert bits[:32] == bits[32:]  # (i % 32) makes halves identical

    def test_near_duplicate_high_similarity(self):
        a = (
            "the patient was admitted with pneumonia treated with antibiotics "
            "and discharged in stable condition after three days of observation "
        ) * 6
        b = a.replace("three", "four", 1)
        sim = simhash_similarity(simhash_bits(a), simhash_bits(b))
        assert sim >= 0.95

    def test_different_docs_lower_similarity(self):
        a = "the patient was admitted with pneumonia and antibiotics"
        b = "billing statement payment invoice account number remittance"
        sim = simhash_similarity(simhash_bits(a), simhash_bits(b))
        assert sim < 0.95

    def test_int_round_trip(self):
        t = "sample text for integer packing of the simhash value"
        v = simhash_int(t)
        bits = simhash_bits(t)
        unsigned = v + (1 << 64) if v < 0 else v
        assert format(unsigned, "064b") == bits


class TestNormalizeForHashing:
    def test_placeholders_removed(self):
        # placeholder strip happens AFTER ws collapse => double space remains
        assert normalize_for_hashing("Hello [NAME_1] world") == "hello  world"

    def test_dates_normalized(self):
        assert normalize_for_hashing("seen on 01/02/2024 ok") == "seen on DATE ok"

    def test_content_hash_sha256_hex(self):
        h = content_hash("Some Text")
        assert len(h) == 64

    def test_hash_invariant_to_case_and_ws(self):
        assert content_hash("Hello   World") == content_hash("hello world")


class TestFnvBatchRobustness:
    def test_long_outlier_falls_back_scalar(self):
        from scrubah_pii_spark.core.hashing import fnv1a64_hex, fnv1a64_hex_batch

        batch = ["short one", "x" * 10_000, "", "another short"]
        assert fnv1a64_hex_batch(batch) == [fnv1a64_hex(s) for s in batch]

    def test_lone_surrogate_falls_back_scalar(self):
        from scrubah_pii_spark.core.hashing import fnv1a64_hex, fnv1a64_hex_batch

        s = "bad \ud800 surrogate"
        assert fnv1a64_hex_batch([s, "plain"]) == [
            fnv1a64_hex(s), fnv1a64_hex("plain")
        ]

    def test_mixed_lengths_bit_identical(self):
        from scrubah_pii_spark.core.hashing import fnv1a64_hex, fnv1a64_hex_batch

        batch = ["", "a", "ab" * 50, None, "unicode é中文"]
        got = fnv1a64_hex_batch(batch)
        assert got == [fnv1a64_hex(s or "") for s in batch]
