"""The per-document kernels as Arrow-batched pandas UDFs, each built by
row_udf: the fused doc-features UDF the flagship runs (quality gate, langid,
perplexity, the scrub cascade, simhash and relevance in one pass), the same
kernels standalone for the bench queries (scrub, simhash, perplexity,
quality, langid, relevance), the vectorized FNV-1a batch hash, and the
native leak-check predicate.

The regex cascade is inherently sequential string rewriting per document —
the one part of the engine that cannot be a native expression. All regexes
are compiled once per executor at module import (core.scrub module scope),
never per row/batch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    DoubleType,
)

from ..core import hashing, langid, perplexity, quality, relevance, scrub
from ..core.extract import extract_text
from .row_udf import row_udf

SCRUB_RESULT_TYPE = StructType(
    [
        StructField("scrubbed_text", StringType()),
        StructField("replacements", MapType(StringType(), StringType())),
        StructField("pii_count", IntegerType()),
    ]
)


@row_udf(SCRUB_RESULT_TYPE)
def scrub_udf(text):
    out = scrub.scrub_text(text if text is not None else "")
    return out.text, out.replacements, out.count


@row_udf(LongType())
def simhash_udf(text):
    return hashing.simhash_int(text if text is not None else "")


@row_udf(DoubleType())
def log_perplexity_udf(text):
    return perplexity.log_perplexity(text or "")


@F.pandas_udf(StringType())
def fnv1a64_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(hashing.fnv1a64_hex_batch(list(texts)))


DOC_FEATURES_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_score", IntegerType()),
        StructField("lang_margin", IntegerType()),
        StructField("log_ppl", DoubleType()),
        StructField("repetition_ratio", DoubleType()),
        StructField("quality_score", DoubleType()),
        StructField("alpha_ratio", DoubleType()),
        StructField("space_ratio", DoubleType()),
        StructField("word_count", IntegerType()),
        StructField("avg_word_len", DoubleType()),
        StructField("scrubbed_text", StringType()),
        StructField("replacements", MapType(StringType(), StringType())),
        StructField("pii_count", IntegerType()),
        StructField("simhash", LongType()),
        StructField("relevance_score", DoubleType()),
        StructField("recommendation", StringType()),
        StructField("clinical_references", IntegerType()),
        StructField("placeholder_density", DoubleType()),
        StructField("medical_content_density", DoubleType()),
        StructField("is_garbage_doc", BooleanType()),
        StructField("has_outcomes", BooleanType()),
        StructField("has_diagnoses", BooleanType()),
        StructField("has_procedures", BooleanType()),
        StructField("has_lab_data", BooleanType()),
        StructField("has_medications", BooleanType()),
    ]
)

# the relevance fields of a doc the language or quality gate drops
_GATED = (None,) * 5 + ("discard",) + (None,) * 9


def make_doc_features_extract_udf(
    keep_langs=("en",),
    min_quality: float = 0.3,
    scrub_mode: str = "worker_then_effect",
):
    """The fused per-doc UDF: (text, html, generation) -> features in ONE
    ArrowEvalPython node, extraction included: quality gate -> langid ->
    perplexity + repetition -> (gated) scrub -> simhash-of-scrubbed ->
    relevance scoring. Every kernel is the same pure function the
    pytest/DuckDB oracles use, so label parity is by construction. A
    separate extract stage cost a second Arrow round-trip whose JVM-side
    queue buffered every passthrough column a second time — pure memory
    traffic, measured as part of the 4N-side bandwidth tax
    (BENCH/BASELINE.md round-5). html arrives pre-masked NULL for rows that
    already carry text, so its bytes never cross Arrow for them; a row with
    neither text nor html is scored as the empty document
    (extract_text(None) == "")."""
    langs = tuple(keep_langs)
    scrub_fn = (
        scrub.scrub_text_production
        if scrub_mode == "worker_then_effect"
        else scrub.scrub_text
    )

    @row_udf(DOC_FEATURES_TYPE)
    def doc_features_extract_udf(text, html, generation):
        t = text if text is not None else extract_text(html)
        q = quality.simple_quality_score(t, min_quality)
        lang, lscore, lmargin = langid.heuristic_langid(t)
        head = (
            lang, lscore, lmargin, perplexity.log_perplexity(t),
            quality.repetition_ratio(t), q.score, q.alpha_ratio,
            q.space_ratio, q.word_count, q.avg_word_len,
        )
        if lang not in langs or not q.passed:
            return head + _GATED
        sc = scrub_fn(t)
        rel = relevance.relevance_score(sc.text, "", generation=int(generation))
        return head + (
            sc.text, sc.replacements, sc.count, hashing.simhash_int(sc.text),
            rel.score, rel.recommendation, rel.clinical_references,
            rel.placeholder_density, rel.medical_content_density,
            rel.is_garbage, rel.has_outcomes, rel.has_diagnoses,
            rel.has_procedures, rel.has_lab_data, rel.has_medications,
        )

    return doc_features_extract_udf


QUALITY_METRICS_TYPE = StructType(
    [
        StructField("alpha_ratio", DoubleType()),
        StructField("space_ratio", DoubleType()),
        StructField("word_count", IntegerType()),
        StructField("avg_word_len", DoubleType()),
        StructField("quality_score", DoubleType()),
        StructField("passed", BooleanType()),
    ]
)


@row_udf(QUALITY_METRICS_TYPE)
def quality_metrics_udf(text):
    """Fused quality gate (compressionPipeline.effect.ts:102-135) as one
    Arrow pass over module-compiled regexes — the same pure kernel the
    flagship's fused doc-features UDF runs, exposed standalone for the bench
    queries. Replaces the contains-expression program, which measured
    anti-scaling past ~8 threads/JVM from string-allocation churn."""
    q = quality.simple_quality_score(text if text is not None else "")
    return q.alpha_ratio, q.space_ratio, q.word_count, q.avg_word_len, q.score, q.passed


LANGID_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_score", LongType()),
        StructField("lang_margin", LongType()),
    ]
)


@row_udf(LANGID_TYPE)
def langid_udf(text):
    """Heuristic langid as one Arrow pass — the same pure kernel the
    flagship's fused doc-features UDF runs, exposed standalone for q_langid."""
    return langid.heuristic_langid(text if text is not None else "")


RELEVANCE_METRICS_TYPE = StructType(
    [
        StructField("clinical_references", IntegerType()),
        StructField("is_garbage_doc", BooleanType()),
        StructField("has_diagnoses", BooleanType()),
        StructField("has_procedures", BooleanType()),
        StructField("has_outcomes", BooleanType()),
        StructField("has_lab_data", BooleanType()),
        StructField("has_medications", BooleanType()),
        StructField("medical_content_density", DoubleType()),
        StructField("relevance_score", DoubleType()),
        StructField("recommendation", StringType()),
    ]
)


@row_udf(RELEVANCE_METRICS_TYPE)
def relevance_metrics_udf(text):
    """Fused relevance scoring (medicalRelevanceFilter.ts:297-385) as one
    Arrow pass — same pure kernel as the flagship, standalone for the bench
    queries (raw text, fixed generation 2, matching the expression program
    it replaces)."""
    r = relevance.relevance_score(text if text is not None else "", "", generation=2)
    return (
        r.clinical_references, r.is_garbage, r.has_diagnoses, r.has_procedures,
        r.has_outcomes, r.has_lab_data, r.has_medications,
        r.medical_content_density, r.score, r.recommendation,
    )


def leak_check_expr(scrubbed: Column) -> Column:
    """mightContainPII (schemas/phi.ts:75-83) as a native rlike gate — runs
    before every sink; the pipeline asserts count == 0. Its pure-Python twin,
    might_contain_pii, is the test reference in tests/engine_reference.py."""
    return (
        scrubbed.rlike(r"\b\d{3}[-.]?\d{3}[-.]?\d{4}\b")
        | scrubbed.rlike(r"\b\d{3}-\d{2}-\d{4}\b")
        | scrubbed.rlike(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b")
        | scrubbed.rlike(r"\b\d{5}(-\d{4})?\b")
    )
