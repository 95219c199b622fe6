"""Structured Streaming variant of the flagship pipeline.

The reference has NO streaming (SURVEY §2.10) — its incremental behavior is
document-at-a-time persistence. This module is the Spark-native incremental
ingestion path for continuously-arriving crawl data:

  readStream (parquet dir) -> watermark on warc_ts -> dropDuplicates(url)
  -> plans.pipeline.label_stage (the batch per-doc program: one fused Arrow
     UDF for extract, langid, quality, scrub and relevance)
  -> leak check + crawl_date -> writeStream with checkpointLocation
     (exactly-once per micro-batch)

label_stage is row-local, so a micro-batch labels its rows exactly as a
batch run would; the only difference is recency, which streaming pins to
generation 2 instead of deriving it from warc_ts.

Cross-document operators (dedup verdicts, near-dup LSH, template corpus) are
deliberately NOT in the streaming path: they are corpus-level, and no code
here runs them over the landed output (a batch run_pipeline over it would).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_PIPELINE_CONFIG, PipelineConfig
from ..operators.scrub_op import leak_check_expr
from ..plans.pipeline import label_stage

WEBPAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_webpage_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(WEBPAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def streaming_transform(
    stream: DataFrame,
    cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked url dedup, then the batch label_stage with every row
    scored as recency generation 2, then the leak flag and the crawl_date
    partition column. Returns a streaming DataFrame ready for
    writeStream."""
    df = (
        stream.withWatermark("warc_ts", watermark)
        .dropDuplicates(["url"])
        .withColumn("generation", F.lit(2))
    )
    return label_stage(df, cfg).withColumn(
        "pii_leak", F.coalesce(leak_check_expr(F.col("scrubbed_text")), F.lit(False))
    ).withColumn("crawl_date", F.to_date("warc_ts"))
