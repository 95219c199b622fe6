"""Scrub audit report operator — AuditCollector parity
(/root/reference/services/auditCollector.ts:19-149).

Per document: one audit entry per cascade stage (pattern_type, match_count,
duration_ms — :38-52 log()) plus the summary block (:64-106 getSummary()):
totalDetections, piiCharactersRemoved, piiDensityPercent, sizeChangeBytes,
averagePiiLength. match_count is the number of NEW unique values a stage
replaced (documented deviation: the reference counts occurrences per pass;
our count invariant is count == |replacements|, schemas.ts:76-83).

Rounding mirrors JS Math.round (half-up): floor(x * k + 0.5) / k.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.scrub import scrub_text_audited
from .row_udf import row_udf

AUDIT_TYPE = StructType([
    StructField("entries", ArrayType(StructType([
        StructField("pattern_type", StringType()),
        StructField("match_count", IntegerType()),
        StructField("duration_ms", DoubleType()),
    ]))),
    StructField("total_detections", IntegerType()),
    StructField("pii_chars_removed", IntegerType()),
    StructField("pii_density_percent", DoubleType()),
    StructField("size_change_bytes", IntegerType()),
    StructField("avg_pii_length", DoubleType()),
    StructField("original_size", IntegerType()),
    StructField("scrubbed_size", IntegerType()),
])


def _js_round(x: float, decimals: int) -> float:
    k = 10 ** decimals
    return math.floor(x * k + 0.5) / k


@row_udf(AUDIT_TYPE)
def scrub_audit_udf(text):
    text = text if text is not None else ""
    out, audit = scrub_text_audited(text)
    pii_chars = sum(len(orig) for orig in out.replacements)
    total = out.count
    orig_size, scrub_size = len(text), len(out.text)
    return (
        [{"pattern_type": n, "match_count": c, "duration_ms": ms} for n, c, ms in audit],
        total,
        pii_chars,
        _js_round(pii_chars / orig_size * 100, 2) if orig_size > 0 else 0.0,
        scrub_size - orig_size,
        _js_round(pii_chars / total, 1) if total > 0 else 0.0,
        orig_size,
        scrub_size,
    )


def scrub_audit(df: DataFrame, text_col: str) -> DataFrame:
    """Adds the audit struct columns to df."""
    return (
        df.withColumn("_a", scrub_audit_udf(F.col(text_col)))
        .withColumns({name: F.col(f"_a.{name}") for name in AUDIT_TYPE.fieldNames()})
        .drop("_a")
    )
