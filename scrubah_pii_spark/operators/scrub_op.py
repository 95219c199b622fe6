"""Scrub + fingerprint + perplexity pandas UDFs.

The regex cascade is inherently sequential string rewriting per document —
the one part of the engine that cannot be a native expression. It runs as an
Arrow-batched Series->Series pandas UDF; all regexes are compiled once per
executor at module import (core.scrub module scope), never per row/batch
(north rule: no per-row Python).
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

from ..core import hashing, perplexity, scrub
from ..core.extract import extract_text

SCRUB_RESULT_TYPE = StructType(
    [
        StructField("scrubbed_text", StringType()),
        StructField("replacements", MapType(StringType(), StringType())),
        StructField("pii_count", IntegerType()),
    ]
)


@F.pandas_udf(SCRUB_RESULT_TYPE)
def scrub_udf(texts: pd.Series) -> pd.DataFrame:
    outs = [scrub.scrub_text(t if t is not None else "") for t in texts]
    return pd.DataFrame(
        {
            "scrubbed_text": [o.text for o in outs],
            "replacements": [o.replacements for o in outs],
            "pii_count": [o.count for o in outs],
        }
    )


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(
        [hashing.simhash_int(t if t is not None else "") for t in texts],
        dtype="int64",
    )


@F.pandas_udf(DoubleType())
def log_perplexity_udf(texts: pd.Series) -> pd.Series:
    return pd.Series([perplexity.log_perplexity(t or "") for t in texts])


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

_FEATURE_KEYS = tuple(f.name for f in DOC_FEATURES_TYPE.fields)


def _doc_features_batch(texts, generations, keep_langs, min_quality,
                        scrub_mode="worker_then_effect"):
    """The fused per-doc pass: quality gate -> langid -> perplexity +
    repetition -> (gated) scrub -> simhash-of-scrubbed -> relevance scoring.
    One Arrow round-trip for ALL per-doc work; every kernel is the same pure
    function the pytest/DuckDB oracles use, so label parity is by
    construction. Regexes/models are module-level singletons (compiled once
    per executor, never per row)."""
    from ..core import langid as _langid
    from ..core import perplexity as _ppl
    from ..core import quality as _quality
    from ..core import relevance as _relevance

    scrub_fn = (
        scrub.scrub_text_production
        if scrub_mode == "worker_then_effect"
        else scrub.scrub_text
    )
    out = {k: [] for k in _FEATURE_KEYS}
    for text, gen in zip(texts, generations):
        t = text if text is not None else ""
        q = _quality.simple_quality_score(t, min_quality)
        lang, lscore, lmargin = _langid.heuristic_langid(t)
        out["lang_pred"].append(lang)
        out["lang_score"].append(lscore)
        out["lang_margin"].append(lmargin)
        out["log_ppl"].append(_ppl.log_perplexity(t))
        out["repetition_ratio"].append(_quality.repetition_ratio(t))
        out["quality_score"].append(q.score)
        out["alpha_ratio"].append(q.alpha_ratio)
        out["space_ratio"].append(q.space_ratio)
        out["word_count"].append(q.word_count)
        out["avg_word_len"].append(q.avg_word_len)
        if lang in keep_langs and q.passed:
            sc = scrub_fn(t)
            rel = _relevance.relevance_score(sc.text, "", generation=int(gen))
            out["scrubbed_text"].append(sc.text)
            out["replacements"].append(sc.replacements)
            out["pii_count"].append(sc.count)
            out["simhash"].append(hashing.simhash_int(sc.text))
            out["relevance_score"].append(rel.score)
            out["recommendation"].append(rel.recommendation)
            out["clinical_references"].append(rel.clinical_references)
            out["placeholder_density"].append(rel.placeholder_density)
            out["medical_content_density"].append(rel.medical_content_density)
            out["is_garbage_doc"].append(rel.is_garbage)
            out["has_outcomes"].append(rel.has_outcomes)
            out["has_diagnoses"].append(rel.has_diagnoses)
            out["has_procedures"].append(rel.has_procedures)
            out["has_lab_data"].append(rel.has_lab_data)
            out["has_medications"].append(rel.has_medications)
        else:
            out["scrubbed_text"].append(None)
            out["replacements"].append(None)
            out["pii_count"].append(None)
            out["simhash"].append(None)
            out["relevance_score"].append(None)
            out["recommendation"].append("discard")
            out["clinical_references"].append(None)
            out["placeholder_density"].append(None)
            out["medical_content_density"].append(None)
            out["is_garbage_doc"].append(None)
            out["has_outcomes"].append(None)
            out["has_diagnoses"].append(None)
            out["has_procedures"].append(None)
            out["has_lab_data"].append(None)
            out["has_medications"].append(None)
    return out


def make_doc_features_extract_udf(
    keep_langs=("en",),
    min_quality: float = 0.3,
    scrub_mode: str = "worker_then_effect",
):
    """The fused per-doc UDF: (text, html, generation) -> features in ONE
    ArrowEvalPython node, extraction included. A separate extract stage cost
    a second Arrow round-trip whose JVM-side queue buffered every
    passthrough column a second time — pure memory traffic, measured as part
    of the 4N-side bandwidth tax (BENCH/BASELINE.md round-5). html arrives
    pre-masked NULL for rows that already carry text, so its bytes never
    cross Arrow for them; a row with neither text nor html is scored as the
    empty document (extract_text(None) == "")."""
    langs = tuple(keep_langs)

    @F.pandas_udf(DOC_FEATURES_TYPE)
    def doc_features_extract_udf(
        texts: pd.Series, htmls: pd.Series, generations: pd.Series
    ) -> pd.DataFrame:
        merged = [
            t if t is not None else extract_text(h)
            for t, h in zip(texts, htmls)
        ]
        data = _doc_features_batch(
            merged, generations, langs, min_quality, scrub_mode
        )
        df = pd.DataFrame({k: v for k, v in data.items() if k != "simhash"})
        # nullable Int64, NOT pd.DataFrame's inferred dtype: a python list
        # mixing int and None infers float64, which silently truncates
        # int64 simhashes past 2^53 — and only in batches that contain a
        # gated (None) doc, so values depended on batch composition
        df["simhash"] = pd.array(data["simhash"], dtype="Int64")
        return df

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


@F.pandas_udf(QUALITY_METRICS_TYPE)
def quality_metrics_udf(texts: pd.Series) -> pd.DataFrame:
    """Fused quality gate (compressionPipeline.effect.ts:102-135) as one
    Arrow pass over module-compiled regexes — the same pure kernel the
    flagship's fused doc-features UDF runs, exposed standalone for the bench
    queries. Replaces the contains-expression program, which measured
    anti-scaling past ~8 threads/JVM from string-allocation churn."""
    from ..core import quality as _quality

    rows = [_quality.simple_quality_score(t if t is not None else "") for t in texts]
    return pd.DataFrame(
        {
            "alpha_ratio": [r.alpha_ratio for r in rows],
            "space_ratio": [r.space_ratio for r in rows],
            "word_count": pd.array([r.word_count for r in rows], dtype="Int32"),
            "avg_word_len": [r.avg_word_len for r in rows],
            "quality_score": [r.score for r in rows],
            "passed": [r.passed for r in rows],
        }
    )


LANGID_TYPE = StructType(
    [
        StructField("lang_pred", StringType()),
        StructField("lang_score", LongType()),
        StructField("lang_margin", LongType()),
    ]
)


@F.pandas_udf(LANGID_TYPE)
def langid_udf(texts: pd.Series) -> pd.DataFrame:
    """Heuristic langid as one Arrow pass — the same pure kernel the
    flagship's fused doc-features UDF runs, exposed standalone for q_langid."""
    from ..core import langid as _langid

    rows = [_langid.heuristic_langid(t if t is not None else "") for t in texts]
    return pd.DataFrame(rows, columns=LANGID_TYPE.fieldNames())


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


def make_relevance_metrics_udf(generation: int = 2):
    """Fused relevance scoring (medicalRelevanceFilter.ts:297-385) as one
    Arrow pass — same pure kernel as the flagship, standalone for the bench
    queries (raw text, fixed generation, matching the expression program it
    replaces)."""
    gen = int(generation)

    @F.pandas_udf(RELEVANCE_METRICS_TYPE)
    def relevance_metrics_udf(texts: pd.Series) -> pd.DataFrame:
        from ..core import relevance as _relevance

        rows = [
            _relevance.relevance_score(t if t is not None else "", "", generation=gen)
            for t in texts
        ]
        return pd.DataFrame(
            {
                "clinical_references": pd.array(
                    [r.clinical_references for r in rows], dtype="Int32"
                ),
                "is_garbage_doc": [r.is_garbage for r in rows],
                "has_diagnoses": [r.has_diagnoses for r in rows],
                "has_procedures": [r.has_procedures for r in rows],
                "has_outcomes": [r.has_outcomes for r in rows],
                "has_lab_data": [r.has_lab_data for r in rows],
                "has_medications": [r.has_medications for r in rows],
                "medical_content_density": [r.medical_content_density for r in rows],
                "relevance_score": [r.score for r in rows],
                "recommendation": [r.recommendation for r in rows],
            }
        )

    return relevance_metrics_udf


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
