"""Quality-gate kernel tests (compressionPipeline.effect.ts:102-135 semantics,
garbage tokens from schemas/ocrQuality.ts:173-195)."""

from scrubah_pii_spark.core.langid import heuristic_langid
from scrubah_pii_spark.core.perplexity import log_perplexity
from scrubah_pii_spark.core.quality import (
    is_garbage_token,
    repetition_ratio,
    simple_quality_score,
)


class TestSimpleQuality:
    GOOD = (
        "The patient was admitted to the hospital with chest pain. "
        "Examination showed stable vital signs and treatment was started "
        "promptly with good response over the following days."
    )
    GARBAGE = "%%%%%%%%%%%%%%%% |||||||||||||||||||| ____________________ ...................."

    def test_good_doc_passes(self):
        q = simple_quality_score(self.GOOD)
        assert q.passed and q.score >= 0.6
        assert q.alpha_ratio > 0.5
        assert q.word_count > 10

    def test_garbage_fails(self):
        q = simple_quality_score(self.GARBAGE)
        assert not q.passed
        assert q.score < 0.3

    def test_wordlike_symbol_soup_passes_simple_gate(self):
        # Faithful quirk: the simplified gate only checks shape factors, so
        # symbol soup with word-like token lengths scores 0.5 and passes.
        # (The garbage-token ratio catches it; see OCR metrics.)
        q = simple_quality_score("%%%% |||| ____ .... ###@@ ^^^&& %%%% |||| zz")
        assert q.passed and q.garbage_ratio > 0.8

    def test_short_doc_scores_low(self):
        q = simple_quality_score("too short")
        assert q.word_count <= 10

    def test_empty(self):
        q = simple_quality_score("")
        assert not q.passed and q.word_count == 0

    def test_score_components_exact(self):
        # alpha>0.5 (+0.3), 0.1<space<0.3 (+0.2), 3<avgLen<15 (+0.3), wc>10 (+0.2)
        q = simple_quality_score(self.GOOD)
        assert abs(q.score - 1.0) < 1e-12


class TestGarbageTokens:
    def test_symbol_runs(self):
        for tok in ["%%%", "||||", "____", "....", "----", "@#$%"]:
            assert is_garbage_token(tok), tok

    def test_real_words(self):
        for tok in ["patient", "Hello", "x-ray", "123", "mg/dL"]:
            assert not is_garbage_token(tok), tok

    def test_empty_and_single(self):
        assert is_garbage_token("")
        assert is_garbage_token("%")
        assert not is_garbage_token("a")


class TestRepetition:
    def test_no_repeats(self):
        assert repetition_ratio("one two three four five six seven") == 0.0

    def test_heavy_repeats(self):
        assert repetition_ratio("spam ham " * 50) > 0.9


class TestLangId:
    def test_english(self):
        lang, score, margin = heuristic_langid(
            "the patient was admitted to the hospital and the doctor is here for the exam"
        )
        assert lang == "en" and score > 0

    def test_german(self):
        lang, _, _ = heuristic_langid(
            "der Patient ist nicht gesund und die Behandlung ist wichtig für das Ergebnis"
        )
        assert lang == "de"

    def test_french(self):
        lang, _, _ = heuristic_langid(
            "le patient est dans la clinique et les médecins sont pour une opération"
        )
        assert lang == "fr"

    def test_unknown(self):
        assert heuristic_langid("zzz qqq xxx")[0] == "xx"


class TestPerplexity:
    def test_english_lower_than_noise(self):
        en = log_perplexity("the patient was admitted to the hospital with chest pain")
        noise = log_perplexity("zqxj wvkp qqzz xjvw kkpp zzqq")
        assert en < noise

    def test_deterministic(self):
        assert log_perplexity("hello world") == log_perplexity("hello world")

    def test_short_text_high(self):
        assert log_perplexity("ab") == 10.0


class TestTextStats:
    def test_word_set_len_gt_3(self):
        from dedup_reference import word_set

        # reference uses words with len > 3
        assert word_set("the cat runs fast today") == {"runs", "fast", "today"}
