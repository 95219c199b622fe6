"""N-gram template corpus / strip / reconstruct (templateDetection.effect.ts
:143-312 corpus + overlap elimination, :317-430 strip, :450-488 reconstruct).
Mirrors the reference's own round-trip tests (test/templateDetection.test.ts:
strip -> reconstruct preserves unique content and restores template lines)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine_reference import reconstruct_ngram_documents
from scrubah_pii_spark.operators.template import (
    ngram_template_corpus,
    remove_overlapping_templates,
    strip_ngram_templates,
)

HEADER = (
    "== clinical record header ==\n"
    "facility: general hospital system\n"
    "confidential do not distribute"
)
FOOTER = (
    "page 1 of 1\n"
    "generated by records system\n"
    "== end of record =="
)


@pytest.fixture(scope="module")
def framed(spark):
    rows = [
        (str(i), f"{HEADER}\nbody line alpha {i}\nbody line beta {i}\n{FOOTER}")
        for i in range(8)
    ]
    return spark.createDataFrame(rows, "url string, text string")


class TestNgramCorpus:
    def test_overlap_elimination_keeps_largest(self, framed):
        corpus = ngram_template_corpus(framed, "text")
        rows = corpus.collect()
        # only the two 3-line chrome blocks survive; their 2-line sub-n-grams
        # are substrings of kept templates and must be eliminated
        assert sorted(r["ngram_size"] for r in rows) == [3, 3]
        contents = {r["content"] for r in rows}
        assert HEADER in contents and FOOTER in contents

    def test_no_elimination_keeps_subgrams(self, framed):
        corpus = ngram_template_corpus(
            framed, "text", eliminate_overlaps=False
        )
        assert corpus.count() > 2  # 2-line sub-windows of the chrome remain

    def test_classification(self, framed):
        corpus = ngram_template_corpus(framed, "text")
        by_content = {r["content"]: r for r in corpus.collect()}
        assert by_content[HEADER]["position"] == "START"
        assert by_content[HEADER]["template_type"] == "HEADER"
        assert by_content[FOOTER]["template_type"] == "FOOTER"

    def test_below_min_docs_returns_empty(self, spark):
        df = spark.createDataFrame(
            [("1", "just one\ndocument here")], "url string, text string"
        )
        assert ngram_template_corpus(df, "text").count() == 0

    def test_remove_overlapping_same_size_substring(self, spark):
        # equal line-count templates: higher doc_count processed first wins
        rows = [
            ("aaaa", 2, 5, "x\ny z", "x\ny z", 0.0, "MIDDLE", "BOILERPLATE", "tpl_aaaa"),
            ("bbbb", 2, 7, "x\ny", "x\ny", 0.0, "MIDDLE", "BOILERPLATE", "tpl_bbbb"),
        ]
        df = spark.createDataFrame(
            rows,
            "hash string, ngram_size int, doc_count long, sample string,"
            " content string, avg_line_offset double, position string,"
            " template_type string, template_id string",
        )
        kept = remove_overlapping_templates(df).collect()
        # 'x\ny' (doc_count 7) is processed first and kept; 'x\ny z' is NOT a
        # substring of it, so both survive — containment only kills subsets
        assert {r["hash"] for r in kept} == {"aaaa", "bbbb"}


class TestStripReconstruct:
    def test_strip_removes_chrome_only(self, framed):
        corpus = ngram_template_corpus(framed, "text")
        stripped = strip_ngram_templates(framed, corpus, "text")
        for r in stripped.collect():
            i = r["url"]
            assert r["stripped_text"] == f"body line alpha {i}\nbody line beta {i}"
            assert len(r["template_refs"]) == 2
            assert r["template_coverage"] == 6 / 8
            assert r["chars_removed"] > 0

    def test_roundtrip_identity(self, framed):
        corpus = ngram_template_corpus(framed, "text")
        stripped = strip_ngram_templates(framed, corpus, "text")
        rec = reconstruct_ngram_documents(stripped, corpus, "url")
        assert rec.filter(F.col("reconstructed") != F.col("text")).count() == 0

    def test_doc_without_templates_untouched(self, spark, framed):
        corpus = ngram_template_corpus(framed, "text")
        other = spark.createDataFrame(
            [("x", "totally unrelated content\nwith two lines of text")],
            "url string, text string",
        )
        stripped = strip_ngram_templates(other, corpus, "text")
        r = stripped.collect()[0]
        assert r["stripped_text"] == r["text"]
        assert r["template_refs"] == []
        assert r["template_coverage"] == 0.0
        rec = reconstruct_ngram_documents(stripped, corpus, "url").collect()[0]
        assert rec["reconstructed"] == r["text"]


class TestOverlapReplacementLossy:
    def test_overlap_replacement_known_lossy(self, spark):
        """Documents the known-lossy case (mirrors the reference's own
        behavior, see strip_ngram_templates docstring): when overlap dedup
        replaces a kept ref [0,2] with a later larger-end match [1,4], line 0
        stays stripped (covered lines come from ALL matches) but appears in
        no kept ref, so reconstruction drops it."""
        from scrubah_pii_spark.operators.template import _doc_ngrams

        lines = [
            "alpha first content line zero",
            "bravo second content line one",
            "charlie third content line two",
            "delta fourth content line three",
            "echo fifth content line four",
        ]
        df = spark.createDataFrame([("u1", "\n".join(lines))], "url string, text string")
        fps = {
            (r["ngram_size"], r["pos"]): r["hash"]
            for r in _doc_ngrams(df, "text").collect()
        }
        corpus = spark.createDataFrame(
            [
                (fps[(3, 0)], 3, "T1", "\n".join(lines[0:3])),
                (fps[(4, 1)], 4, "T2", "\n".join(lines[1:5])),
            ],
            "hash string, ngram_size int, template_id string, content string",
        )
        stripped = strip_ngram_templates(df, corpus, "text")
        row = stripped.collect()[0]
        # all 5 lines covered by the union of matches -> nothing unique
        assert row["stripped_text"] == ""
        # overlap dedup kept only the larger-end replacement
        refs = [(r["template_id"], r["line_start"], r["line_end"])
                for r in row["template_refs"]]
        assert refs == [("T2", 1, 4)]
        rec = reconstruct_ngram_documents(stripped, corpus, "url").collect()[0]
        # line 0 is lost; lines 1-4 are restored
        assert rec["reconstructed"] == "\n".join(lines[1:5])
        assert rec["reconstructed"] != rec["text"]


class TestNullTextSemantics:
    """Round-6 fix: NULL text must yield NULL coverage (not -1.0 via legacy
    sizeOfNull) in strip, and must not poison the corpus doc/avg_lines
    aggregate; duplicate urls collapse to one doc in the corpus stats."""

    def test_strip_null_text_row(self, spark, framed):
        corpus = ngram_template_corpus(framed, "text")
        with_null = framed.unionByName(
            spark.createDataFrame([("nulldoc", None)], "url string, text string")
        )
        stripped = strip_ngram_templates(with_null, corpus, "text")
        row = stripped.filter(F.col("url") == "nulldoc").collect()[0]
        assert row["template_coverage"] is None
        assert row["stripped_text"] == ""
        assert row["template_refs"] == []

    def test_corpus_stats_ignore_null_and_dup_urls(self, spark):
        # 7 real docs sharing a 3-line header + 1 NULL-text doc + 1 dup url.
        rows = [
            (str(i), f"{HEADER}\nbody {i} unique line\nmore body {i}")
            for i in range(7)
        ]
        rows.append(("nulldoc", None))
        rows.append(("0", rows[0][1]))  # duplicate url
        df = spark.createDataFrame(rows, "url string, text string")
        corpus = ngram_template_corpus(
            df, "text", min_docs=5, threshold_frac=0.5
        )
        # threshold = max(5, int(7 * 0.5)) = 5 -- NOT int(9 * 0.5) = 4;
        # the header appears in 7 distinct urls so it must survive, and
        # the corpus must be non-empty (docs >= min_docs computed on 7).
        assert corpus.count() > 0
        assert corpus.filter(F.col("doc_count") > 7).count() == 0
