"""Custom stateful streaming operator (applyInPandasWithState): per-host
cross-micro-batch exact dedup. Verifies state survives between micro-batches
— the semantics watermarked dropDuplicates cannot give."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from scrubah_pii_spark.streaming.stream import stateful_host_dedup


@pytest.fixture()
def stream_dirs(tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    return str(inp), str(tmp_path / "ckpt")


def _write_batch(spark, inp, rows, name):
    df = spark.createDataFrame(
        rows, "url string, host string, content_hash string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(inp, name))


class TestStatefulHostDedup:
    def test_cross_batch_duplicates_flagged(self, spark, stream_dirs):
        inp, ckpt = stream_dirs
        _write_batch(spark, inp, [
            ("u1", "a.com", "h1"), ("u2", "a.com", "h2"), ("u3", "b.com", "h1"),
        ], "b0")

        stream = (
            spark.readStream
            .schema("url string, host string, content_hash string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inp + "/*")
        )
        out = stateful_host_dedup(stream)
        q = (
            out.writeStream.format("memory").queryName("dedup_state")
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            first = {
                r["url"]: r["is_cross_batch_dup"]
                for r in spark.sql("SELECT * FROM dedup_state").collect()
            }
            # h1 on a.com and h1 on b.com are DIFFERENT state groups
            assert first == {"u1": False, "u2": False, "u3": False}

            # batch 2: re-crawl u1's content on the same host + a new doc
            _write_batch(spark, inp, [
                ("u4", "a.com", "h1"), ("u5", "a.com", "h9"),
            ], "b1")
            q.processAllAvailable()
            rows = {
                r["url"]: r["is_cross_batch_dup"]
                for r in spark.sql("SELECT * FROM dedup_state").collect()
            }
            assert rows["u4"] is True    # seen in micro-batch 1 state
            assert rows["u5"] is False
        finally:
            q.stop()


class TestStreamingBatchEquivalence:
    """Round-4 verdict item 7: the SAME corpus through the Structured
    Streaming path (streaming_transform: watermarked url dedup, then
    label_stage) and the batch path (label_stage alone) must yield identical
    per-document labels in every column label_stage emits. The two
    idempotency mechanisms were separately tested; this pins the cross-path
    semantics."""

    def test_same_corpus_same_labels(self, spark, tmp_path):
        from scrubah_pii_spark.plans.pipeline import (
            generation_from_ts,
            label_stage,
        )
        from scrubah_pii_spark.sources.synth import generate_rows
        from scrubah_pii_spark.streaming.stream import streaming_transform

        rows = [
            (r["url"], r["warc_ts"], None, r["text"], r["lang"])
            for r in generate_rows(120)
        ]
        df = spark.createDataFrame(
            rows,
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        # streaming_transform pins generation=2; restrict the corpus to docs
        # the batch path ALSO labels generation 2 so relevance is comparable
        from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG
        df = df.filter(
            generation_from_ts(
                F.col("warc_ts"),
                DEFAULT_PIPELINE_CONFIG.relevance.current_year,
            ) == 2
        )
        assert df.count() >= 40, "fixture must keep a meaningful corpus"

        inp = str(tmp_path / "in")
        df.write.mode("overwrite").parquet(inp)

        stream = (
            spark.readStream
            .schema(
                "url string, warc_ts timestamp, html binary, "
                "text string, lang string"
            )
            .option("maxFilesPerTrigger", 4)  # force multiple micro-batches
            .parquet(inp)
        )
        q = (
            streaming_transform(stream)
            .writeStream.format("memory").queryName("sbe_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            streamed = spark.sql("SELECT * FROM sbe_out").collect()
        finally:
            q.stop()

        labeled = label_stage(df)
        label_cols = labeled.columns
        batch = labeled.collect()
        assert len(streamed) == len(batch) == df.count()
        # the sink is exactly label_stage's columns plus the two the
        # streaming path adds after it
        assert set(streamed[0].asDict()) == set(label_cols) | {
            "pii_leak", "crawl_date",
        }

        def key(r):
            rd = lambda v: round(v, 6) if isinstance(v, float) else v
            return tuple(rd(r[c]) for c in label_cols)

        a = {r["url"]: key(r) for r in streamed}
        b = {r["url"]: key(r) for r in batch}
        assert a == b
