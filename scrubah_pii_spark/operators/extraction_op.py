"""Structured-extraction operator: ARRAY<STRUCT> columns of labs / vitals /
ICD-10 codes / imaging modalities per document (whitelist extraction,
structuredExtraction.ts semantics via core.extraction)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..core.extraction import extract_labs, extract_record
from .row_udf import row_udf

LABS_TYPE = ArrayType(StructType([
    StructField("test", StringType()),
    StructField("value", DoubleType()),
    StructField("unit", StringType()),
    StructField("status", StringType()),
]))

EXTRACTION_TYPE = StructType(
    [
        StructField("labs", LABS_TYPE),
        StructField("vitals", ArrayType(StructType([
            StructField("vital", StringType()),
            StructField("value", DoubleType()),
        ]))),
        StructField("icd10_codes", ArrayType(StringType())),
        StructField("modalities", ArrayType(StringType())),
        StructField("abnormal_flags", ArrayType(StringType())),
    ]
)


def _lab_rows(labs):
    return [{"test": t, "value": v, "unit": u, "status": s} for t, v, u, s in labs]


@row_udf(EXTRACTION_TYPE)
def extract_record_udf(text):
    o = extract_record(text or "")
    return (
        _lab_rows(o.labs),
        [{"vital": n, "value": v} for n, v in o.vitals],
        o.icd10_codes,
        o.modalities,
        o.abnormal_flags,
    )


@row_udf(LABS_TYPE)
def _extract_labs_udf_det(text):
    """Labs-only kernel (UDF-level column pruning): lab consumers skip the
    vitals/ICD-10/modality/abnormal regex passes AND their Arrow transfer —
    Catalyst prunes columns, not work inside a Python kernel. Same patterns
    and tuples as extract_record (core/extraction.py extract_labs)."""
    return _lab_rows(extract_labs(text or ""))


# Non-deterministic marking (guide §4.4): the explode() downstream of this
# UDF makes Catalyst infer a `size(labs) > 0` filter and push it BELOW the
# pre-UDF repartition, re-evaluating the whole labs extraction a second time
# on the UN-spread scan — one task for a single-file parquet input. Marking
# the (pure) UDF non-deterministic forbids the duplication: one
# ArrowEvalPython node, after the spread exchange. Plan shape pinned in
# tests/test_plan_shapes.py.
extract_labs_udf = _extract_labs_udf_det.asNondeterministic()


def add_extraction(df: DataFrame, text_col: str) -> DataFrame:
    return (
        df.withColumn("_ex", extract_record_udf(F.col(text_col)))
        .withColumns({name: F.col(f"_ex.{name}") for name in EXTRACTION_TYPE.fieldNames()})
        .drop("_ex")
    )


def lab_trends(
    df: DataFrame, id_col: str, ts_col: str,
) -> DataFrame:
    """Lab trend classification (structuredExtraction.effect.ts:562-631):
    per test, order by time, classify INCREASING / DECREASING / STABLE (<5%)
    / FLUCTUATING (max swing > 1.5x |first-last delta|) / INSUFFICIENT_DATA.

    One map-side-combinable groupBy exchange: first/last-by-time are
    min_by/max_by on the (ts, id) ordering key. The previous
    Window.partitionBy("test") form funneled every row of a test onto one
    task (test cardinality ~23 => parallelism 23 + skew at scale); plain
    aggregates partial-combine on the map side instead."""
    labs = df.select(
        F.col(id_col), F.col(ts_col).alias("_ts"), F.explode("labs").alias("lab")
    ).select(
        id_col, "_ts",
        F.col("lab.test").alias("test"),
        F.col("lab.value").alias("value"),
    )
    order_key = F.struct(F.col("_ts"), F.col(id_col))
    stats = labs.groupBy("test").agg(
        F.count("*").alias("n"),
        F.min_by("value", order_key).alias("first_v"),
        F.max_by("value", order_key).alias("last_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    delta = F.col("last_v") - F.col("first_v")
    pct = F.when(F.col("first_v") != 0, F.abs(delta) / F.abs(F.col("first_v")) * 100)
    swing = F.col("max_v") - F.col("min_v")
    return stats.withColumn(
        "trend",
        F.when(F.col("n") < 2, "INSUFFICIENT_DATA")
        .when(swing > 1.5 * F.abs(delta), "FLUCTUATING")
        .when(pct < 5.0, "STABLE")
        .when(delta > 0, "INCREASING")
        .otherwise("DECREASING"),
    )
