"""Reference dedup compositions that only the tests use: the unfused
exact-dup window (mark_exact_duplicates) and bucket-representative near-dup
analysis (analyze_near_duplicates_bucketed). The engine runs the fused
operators.dedup.dedup_verdicts_fused; tests/test_pipeline_e2e.py checks that
it gives the same verdicts as mark -> filter -> analyze here."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scrubah_pii_spark.functions.hashing_expr import (
    content_hash_expr,
    simhash_band_expr,
    simhash_similarity_expr,
)


def mark_exact_duplicates(
    df: DataFrame, text_col: str = "scrubbed_text",
    url_col: str = "url", ts_col: str = "warc_ts",
    hash_col: str | None = None,
) -> DataFrame:
    """Adds content_hash, is_exact_dup, exact_dup_of (earliest url wins).
    Pass hash_col when content_hash is already computed — lets callers run
    the window over a slim projection so the shuffle never moves text."""
    if hash_col is not None:
        out = df.withColumnRenamed(hash_col, "content_hash") \
            if hash_col != "content_hash" else df
    else:
        out = df.withColumn("content_hash", content_hash_expr(F.col(text_col)))
    w = Window.partitionBy("content_hash").orderBy(ts_col, url_col)
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .withColumn("_first_url", F.first(url_col).over(w))
        .withColumn("is_exact_dup", F.col("_rn") > 1)
        .withColumn(
            "exact_dup_of", F.when(F.col("_rn") > 1, F.col("_first_url"))
        )
        .drop("_rn", "_first_url")
    )


def analyze_near_duplicates_bucketed(
    df: DataFrame,
    simhash_col: str = "simhash",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    doc_type_col: str = "doc_type",
    near_threshold: float = 0.95,
    same_event_threshold: float = 0.70,
    same_event_hours: float = 72.0,
    bands: int = 4,
) -> DataFrame:
    """Bucket-REPRESENTATIVE near-dup detection with NO pair join.

    Per (band, band_bits) LSH bucket, the earliest (ts, url) doc is the
    representative; every member verifies hamming against it via a window
    first_value — one window sort per band instead of a bucket self-join.
    Work is O(bands * docs); a corpus that is one giant near-dup cluster
    (boilerplate webtext after scrubbing — the common case) costs the same as
    a fully unique corpus, where pairwise LSH degrades to O(docs^2).

    Semantics vs the reference's sequential vs-all-previous scan (documented
    approximation): a member whose distance to its bucket representative
    exceeds the threshold but that is near ANOTHER member is missed this
    round — re-running the stage on survivors converges; dist<=3 pairs still
    collide with the rep's bucket in >=1 band so the >=0.95 tier keeps high
    recall. Skew note: one colossal bucket becomes one window sort task;
    sub-bucketing on extra simhash bits bounds it if ever needed."""
    keyed = df.withColumn(
        "_order_key",
        F.concat_ws(
            "|",
            F.date_format(F.col(ts_col).cast("timestamp"), "yyyyMMddHHmmss"),
            F.col(url_col),
        ),
    )
    # explode (band, bits) rows -> ONE window over (band, bits) covers all
    # bands in a single shuffle+sort stage (a per-band loop costs `bands`
    # separate stage chains; stage-count is the fixed term that refuses to
    # scale with cores)
    banded = keyed.select(
        F.col(url_col).alias("_url"),
        F.col(simhash_col).alias("_sh"),
        F.col(ts_col).alias("_ts"),
        F.col(doc_type_col).alias("_dt"),
        "_order_key",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("_band"),
                    simhash_band_expr(F.col(simhash_col), b, bands).alias("_bits"),
                )
                for b in range(bands)
            ])
        ).alias("_bk"),
    ).select("_url", "_sh", "_ts", "_dt", "_order_key", "_bk._band", "_bk._bits")
    w = Window.partitionBy("_band", "_bits").orderBy("_order_key")
    verdict = (
        banded.withColumn("_rep_url", F.first("_url").over(w))
        .withColumn("_rep_sh", F.first("_sh").over(w))
        .withColumn("_rep_ts", F.first("_ts").over(w))
        .withColumn("_rep_dt", F.first("_dt").over(w))
        .withColumn("_rep_order", F.first("_order_key").over(w))
        .filter(F.col("_url") != F.col("_rep_url"))
        .withColumn("similarity", simhash_similarity_expr(F.col("_sh"), F.col("_rep_sh")))
        .withColumn(
            "pair_type",
            F.when(F.col("similarity") >= near_threshold, "near-duplicate").when(
                (F.col("similarity") >= same_event_threshold)
                & (F.col("_dt") == F.col("_rep_dt"))
                & (
                    F.abs(
                        F.col("_ts").cast("timestamp").cast("long")
                        - F.col("_rep_ts").cast("timestamp").cast("long")
                    )
                    <= int(same_event_hours * 3600)
                ),
                "same-event",
            ),
        )
        .filter(F.col("pair_type").isNotNull())
        .select("_url", "_rep_url", "_rep_order", "similarity", "pair_type")
    )
    best = (
        verdict.groupBy("_url")
        .agg(
            F.min_by(
                F.struct("_rep_url", "similarity", "pair_type"), F.col("_rep_order")
            ).alias("m")
        )
        .select(
            F.col("_url").alias(url_col),
            F.col("m._rep_url").alias("near_dup_of"),
            F.col("m.similarity").alias("similarity"),
            F.col("m.pair_type").alias("difference_type"),
        )
    )
    # no broadcast hint: `best` has one row per near-dup/same-event doc, which
    # on boilerplate-heavy webtext is a large fraction of the corpus — AQE
    # broadcasts it at runtime only when it actually measures small.
    return (
        df.join(best, url_col, "left")
        .withColumn(
            "difference_type", F.coalesce(F.col("difference_type"), F.lit("unique"))
        )
        .withColumn("is_near_dup", F.col("difference_type") == "near-duplicate")
    )
