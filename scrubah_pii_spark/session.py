"""SparkSession builder with the engine's tuned defaults.

Scale posture (100 TB / 1000 executors) is set here once:
  - AQE on (runtime skew-join splitting + shuffle coalescing)
  - Arrow on (all pandas UDFs are Arrow-batched; no per-row Python)
  - explicit shuffle partitions (callers override per data size)
  - broadcast threshold raised so dimension-sized corpora (template corpus,
    term tables) broadcast instead of shuffling
  - the generated-class cache sized to the engine's working set
    (CODEGEN_CACHE_ENTRIES), so a warm query reuses its compiled classes
    instead of recompiling them; the conf is static, so it is set here,
    where the session is created
  - the engine's Python worker daemon (PYTHON_DAEMON_MODULE, see pyworker),
    which stops every Python task from re-reading Spark's own archives
    (~0.22 s of worker CPU per task on a 4-vCPU host). Executors must be able
    to import the engine when the daemon starts, or no Python worker starts
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries. One pass of all 46 queries leaves
# 591-633 generated classes; Spark's default of 100 held almost none of them,
# so a warm repeat recompiled nearly every class. Guava splits the cap over 4
# segments and evicts per segment at about a quarter of it, so a cap near
# the working set still evicts live classes: ~3x the working set does not.
CODEGEN_CACHE_ENTRIES = 2000

# spark.python.daemon.module: pyspark.daemon minus the per-task
# importlib.invalidate_caches() re-read of pyspark.zip and the spark-core jar.
PYTHON_DAEMON_MODULE = "scrubah_pii_spark.pyworker"


def build_session(
    app_name: str = "scrubah_pii_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
