"""Warehouse IO: partitioned parquet tables + completed-partition manifest.

Iceberg-shaped layout without the Iceberg runtime (not bundled in this
sandbox): output partitioned by crawl_date (days(warc_ts)) — swap
``write_output`` for ``df.writeTo(tbl).overwritePartitions()`` when an
Iceberg catalog is configured; everything else is unchanged.

Checkpoint-resume semantics (north rule): the reference persists per-document
completion (App.tsx:176); at cluster scale that becomes a manifest of
completed partitions. ``remaining_partitions`` anti-joins input partitions
against the manifest, so a restarted job re-processes only unfinished
partitions (idempotent re-run, no streaming state)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_partition_cols(df: DataFrame) -> DataFrame:
    """crawl_date = days(warc_ts); url_bucket = one of 64 url-hash buckets."""
    return df.withColumn("crawl_date", F.to_date("warc_ts")).withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(64)).cast("int")
    )


def write_output(df: DataFrame, warehouse: str, table: str) -> None:
    (
        df.write.mode("overwrite")
        .partitionBy("crawl_date")
        .parquet(os.path.join(warehouse, table))
    )


def read_table(spark: SparkSession, warehouse: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(warehouse, table))


def write_manifest(df_partitions: DataFrame, warehouse: str) -> None:
    """Append completed partition keys (crawl_date) to the manifest table."""
    df_partitions.write.mode("append").parquet(os.path.join(warehouse, "_manifest"))


def remaining_partitions(input_df: DataFrame, spark: SparkSession, warehouse: str) -> DataFrame:
    """Filter the input to partitions not yet recorded in the manifest."""
    path = os.path.join(warehouse, "_manifest")
    try:
        done = spark.read.parquet(path).select("crawl_date").distinct()
    except Exception:
        return input_df
    return input_df.join(F.broadcast(done), "crawl_date", "left_anti")
