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
deliberately NOT in the streaming path: they are corpus-level and run as
periodic batch compaction over the landed output — the same
manifest/anti-join resume machinery (sources/io.py) makes those jobs
idempotent.
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


def stateful_host_dedup(
    stream: DataFrame, host_col: str = "host", hash_col: str = "content_hash",
    url_col: str = "url", max_hashes_per_host: int = 100_000,
) -> DataFrame:
    """Custom stateful streaming operator: cross-micro-batch exact dedup.

    dropDuplicates only sees keys inside the watermark; a crawl re-fetching a
    page days later re-emits it. This keeps a per-HOST set of content hashes
    in Spark state (applyInPandasWithState) and flags any document whose
    hash was already seen in ANY earlier micro-batch.

    Scale shape: state is keyed by host, so it shards with the host key and
    each group's state is bounded (max_hashes_per_host, oldest-first drop —
    a production deployment would swap the set for a Bloom filter; the state
    plumbing is identical). One shuffle on host per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, StringType, StructField, StructType,
    )

    out_type = StructType([
        StructField(url_col, StringType()),
        StructField(host_col, StringType()),
        StructField(hash_col, StringType()),
        StructField("is_cross_batch_dup", BooleanType()),
    ])
    state_type = StructType([StructField("hashes", StringType())])  # \x1f-joined

    def dedup_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        host = key[0]
        if state.exists:
            (joined,) = state.get
            seen = joined.split("\x1f") if joined else []
        else:
            seen = []
        seen_set = set(seen)
        for pdf in pdf_iter:
            flags = []
            for h in pdf[hash_col]:
                if h in seen_set:
                    flags.append(True)
                else:
                    flags.append(False)
                    seen_set.add(h)
                    seen.append(h)
            out = pd.DataFrame({
                url_col: pdf[url_col],
                host_col: host,
                hash_col: pdf[hash_col],
                "is_cross_batch_dup": flags,
            })
            yield out
        if len(seen) > max_hashes_per_host:
            seen = seen[len(seen) - max_hashes_per_host:]  # keep newest
        state.update(("\x1f".join(seen),))

    return stream.groupBy(host_col).applyInPandasWithState(
        dedup_fn, out_type, state_type, "append", GroupStateTimeout.NoTimeout
    )
