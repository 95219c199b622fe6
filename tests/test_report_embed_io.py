"""Report/timeline ops, embedding plumbing, warehouse resume manifest."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from scrubah_pii_spark.operators.embed_op import chunk_text, embed_document


class TestChunkEmbed:
    def test_chunking_windows(self):
        text = "x" * 1200
        chunks = chunk_text(text)
        assert chunks[0] == "x" * 512
        assert all(len(c) <= 512 for c in chunks)
        # overlap: window step is 462
        assert len(chunks) == 3

    def test_embedding_normalized_and_deterministic(self):
        v1 = embed_document("the quick brown fox jumps over the lazy dog")
        v2 = embed_document("the quick brown fox jumps over the lazy dog")
        assert v1 == v2
        assert abs(sum(x * x for x in v1) - 1.0) < 1e-6

    def test_similar_docs_closer(self):
        a = embed_document("the patient was admitted with pneumonia and treated")
        b = embed_document("the patient was admitted with pneumonia and cured")
        c = embed_document("quarterly revenue grew nine percent across regions")
        cos = lambda x, y: sum(p * q for p, q in zip(x, y))
        assert cos(a, b) > cos(a, c)

    def test_empty(self):
        assert embed_document("") == [0.0] * 64

    def test_gated_model_raises_cleanly(self):
        with pytest.raises(NotImplementedError):
            embed_document("text", model_name="all-MiniLM-L6-v2")

    def test_spark_add_embeddings(self, spark):
        from scrubah_pii_spark.operators.embed_op import add_embeddings

        df = spark.createDataFrame([(1, "hello world " * 100)], "id int, text string")
        row = add_embeddings(df, "text").collect()[0]
        assert len(row["embedding"]) == 64


class TestReportOps:
    def test_markdown_report(self):
        from scrubah_pii_spark.operators.report import timeline_markdown

        summary = {"total_documents": 3, "duplicates": 1,
                   "date_start": "2024-01-01", "date_end": "2024-02-01"}
        docs = [
            {"document_number": 1, "url": "u1", "doc_type": "lab_report",
             "warc_ts": "2024-01-01", "difference_type": "unique",
             "near_dup_of": None, "scrubbed_text": "WBC results fine"},
            {"document_number": 2, "url": "u2", "doc_type": "lab_report",
             "warc_ts": "2024-01-03", "difference_type": "near-duplicate",
             "near_dup_of": "u1", "scrubbed_text": "WBC results fine too"},
            {"document_number": 3, "url": "u3", "doc_type": "discharge",
             "warc_ts": "2024-02-01", "difference_type": "unique",
             "near_dup_of": None, "scrubbed_text": "discharged home"},
        ]
        md = timeline_markdown(summary, docs)
        assert md.startswith("# Master Timeline")
        assert "## Document 1: u1" in md
        assert "near-duplicate of u1" in md

    def test_quality_routing(self, spark):
        from scrubah_pii_spark.operators.report import quality_routing

        df = spark.createDataFrame(
            [(0.8, 0.9, 100, 0.0), (0.5, 0.3, 5, 0.6), (0.2, 0.6, 50, 0.1)],
            "quality_score double, alpha_ratio double, word_count int, repetition_ratio double",
        )
        rows = quality_routing(df).collect()
        assert [r["quality_level"] for r in rows] == ["HIGH", "MEDIUM", "LOW"]
        assert "LOW_ALPHA_RATIO" in rows[1]["quality_flags"]
        assert "SPARSE_TEXT" in rows[1]["quality_flags"]
        assert "HIGH_REPETITION" in rows[1]["quality_flags"]


class TestResumeManifest:
    def test_anti_join_resume(self, spark, tmp_path):
        from scrubah_pii_spark.sources.io import (
            remaining_partitions,
            with_partition_cols,
            write_manifest,
        )

        df = spark.createDataFrame(
            [("u1", dt.datetime(2024, 1, 1)), ("u2", dt.datetime(2024, 1, 2))],
            "url string, warc_ts timestamp",
        )
        df = with_partition_cols(df)
        wh = str(tmp_path / "wh")
        # nothing done yet -> everything remains
        assert remaining_partitions(df, spark, wh).count() == 2
        # mark 2024-01-01 complete -> only the other partition remains
        write_manifest(
            df.filter(F.col("crawl_date") == "2024-01-01").select("crawl_date").distinct(),
            wh,
        )
        rest = remaining_partitions(df, spark, wh).collect()
        assert [str(r["crawl_date"]) for r in rest] == ["2024-01-02"]
