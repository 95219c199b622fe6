"""Timeline / report helpers (the reference's corpus-level outputs).

Reference semantics: timelineOrganizer.effect.ts markdown report (:345-452),
which q_timeline_report builds per user inside an Arrow-grouped UDF after a
distributed aggregation (its numbering and summary are computed in that
query); ocrQualityGate.effect.ts routing levels."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def timeline_markdown(summary_row, docs_rows) -> str:
    """Driver-side serialization of the (small) aggregated report —
    summary header + per-doc sections (the first 50 lines of each) +
    duplicate notices (timelineOrganizer.effect.ts:345-452). Deterministic."""
    lines = [
        "# Master Timeline",
        "",
        f"Total documents: {summary_row['total_documents']}",
        f"Duplicates: {summary_row['duplicates']}",
        f"Date range: {summary_row['date_start']} .. {summary_row['date_end']}",
        "",
    ]
    for r in docs_rows:
        lines.append(f"## Document {r['document_number']}: {r['url']}")
        lines.append(f"*Type: {r['doc_type']} | Date: {r['warc_ts']}*")
        if r.get("difference_type") == "near-duplicate":
            lines.append(f"> NOTE: near-duplicate of {r.get('near_dup_of', '?')}")
        body = (r.get("scrubbed_text") or "").split("\n")[:50]
        lines.extend(body)
        lines.append("")
    return "\n".join(lines)


def quality_routing(df: DataFrame) -> DataFrame:
    """Routing levels + flags over quality_score, alpha_ratio, word_count and
    repetition_ratio (ocrQualityGate.effect.ts:219-247 thresholds:
    HIGH >= 0.7 / MEDIUM >= 0.4 / LOW; flags LOW_CONFIDENCE,
    HIGH_GARBAGE_DENSITY->HIGH_REPETITION, LOW_ALPHA_RATIO, SPARSE_TEXT)."""
    level = (
        F.when(F.col("quality_score") >= 0.7, "HIGH")
        .when(F.col("quality_score") >= 0.4, "MEDIUM")
        .otherwise("LOW")
    )
    flags = F.array_compact(
        F.array(
            F.when(F.col("quality_score") < 0.4, F.lit("LOW_CONFIDENCE")),
            F.when(F.col("alpha_ratio") < 0.5, F.lit("LOW_ALPHA_RATIO")),
            F.when(F.col("word_count") < 10, F.lit("SPARSE_TEXT")),
            F.when(F.col("repetition_ratio") > 0.5, F.lit("HIGH_REPETITION")),
        )
    )
    return df.withColumn("quality_level", level).withColumn("quality_flags", flags)
