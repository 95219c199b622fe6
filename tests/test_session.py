"""Session-level settings that the engine's timing depends on.

A warm repeat of a query must reuse the classes its first run generated:
with Spark's default codegen cache (100 entries) the four corpus_ops timed
queries alone evict each other, and every pass recompiles ~50 classes. Runs
over the sf0.001 table set (TESTDATA.md), which sits in a ``testdata/``
directory beside the repository checkout."""

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(os.path.dirname(REPO), "testdata", "sf0.001")

QUERIES = ("template_lines", "exact_dedup", "dup_span_strip", "chunk_dedup")
# A few classes still recompile on a repeat: AQE numbers a query's codegen
# stages in the order its shuffle stages finish, and the number is part of
# the generated source. A run whose order differs from every earlier run's
# compiles its stages anew: 4 classes for template_lines, 9 for
# dup_span_strip, at most 13 in one pass over ~50 measured passes. With the
# default cache every warm pass compiled 45-53, so the bound separates them.
MAX_WARM_COMPILES = 20


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="sf0.001 test data absent")
def test_warm_pass_reuses_generated_classes(spark):
    from scrubah_pii_spark.entry_queries import QUERIES as ALL

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        before = compiles.getCount()
        for name in QUERIES:
            spark.catalog.clearCache()
            ALL[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    counts = [one_pass() for _ in range(3)]
    assert all(c <= MAX_WARM_COMPILES for c in counts[1:]), (
        f"classes compiled per pass: {counts}")
