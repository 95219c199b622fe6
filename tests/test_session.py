"""Session-level settings that the engine's timing depends on.

A warm repeat of a query must reuse the classes its first run generated:
with Spark's default codegen cache (100 entries) the four corpus_ops timed
queries alone evict each other, and every pass recompiles ~50 classes. Runs
over the sf0.001 table set (TESTDATA.md), which sits in a ``testdata/``
directory beside the repository checkout.

A Python task must not re-read Spark's own archives: stock PySpark runs
``importlib.invalidate_caches()`` in every task, which costs ~0.2 s of worker
CPU while pyspark.zip and the spark-core jar are on the worker path. The
engine's daemon (``scrubah_pii_spark.pyworker``) holds those archives out, and
archives or modules shipped after the session started must still import."""

import importlib
import os
import sys
import time
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

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


# The stock call takes ~0.15 s of CPU in a worker of this session on a
# 4-vCPU host; with the engine's daemon it takes under 1 ms.
MAX_INVALIDATE_S = 0.05


def test_worker_invalidate_caches_is_cheap(spark):
    def invalidate_cpu_s(s: pd.Series) -> pd.Series:
        t0 = time.process_time()
        importlib.invalidate_caches()
        return s * 0 + (time.process_time() - t0)

    timed = F.pandas_udf(invalidate_cpu_s, "double")
    rows = spark.range(0, 4, numPartitions=4).select(timed("id").alias("s")).collect()
    worst = max(r["s"] for r in rows)
    assert worst < MAX_INVALIDATE_S, f"invalidate_caches CPU s per task: {worst:.3f}"


def test_files_shipped_after_start_still_import(spark, tmp_path):
    """A zip and a bare module added with addPyFile after the workers have
    started: the zip is a new sys.path entry, and the module lands in the
    SparkFiles directory that a worker's FileFinder already lists."""
    sc = spark.sparkContext
    warm = F.pandas_udf(lambda s: s + 1, "long")
    spark.range(0, 4, numPartitions=4).select(warm("id")).collect()

    zipped, bare = (f"shipped_{uuid.uuid4().hex}" for _ in range(2))
    archive = tmp_path / f"{zipped}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{zipped}.py", "VALUE = 7\n")
    (tmp_path / f"{bare}.py").write_text("VALUE = 11\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(tmp_path / f"{bare}.py"))

    def shipped(s: pd.Series) -> pd.Series:
        total = importlib.import_module(zipped).VALUE + importlib.import_module(bare).VALUE
        return s * 0 + total

    udf = F.pandas_udf(shipped, "long")
    rows = spark.range(0, 4, numPartitions=4).select(udf("id").alias("v")).collect()
    assert {r["v"] for r in rows} == {18}


def test_pyworker_import_patches_nothing():
    before = importlib.invalidate_caches
    sys.modules.pop("scrubah_pii_spark.pyworker", None)
    importlib.import_module("scrubah_pii_spark.pyworker")
    assert importlib.invalidate_caches is before


def test_hold_out_keeps_start_archives_and_rereads_others(tmp_path):
    from scrubah_pii_spark.pyworker import hold_out

    paths = []
    for name in ("start", "later"):
        path = str(tmp_path / f"{name}.zip")
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{name}_mod.py", "X = 1\n")
        paths.append(path)
    importers = {p: zipimport.zipimporter(p) for p in paths}
    files = {p: imp._files for p, imp in importers.items()}
    sys.path_importer_cache.update(importers)
    try:
        hold_out(importlib.invalidate_caches, frozenset(paths[:1]))()
        start, later = (sys.path_importer_cache[p] for p in paths)
        assert start is importers[paths[0]] and later is importers[paths[1]]
        assert start._files is files[paths[0]]
        assert later._files is not files[paths[1]]
    finally:
        for p in paths:
            sys.path_importer_cache.pop(p, None)
