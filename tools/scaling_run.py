"""One scaling-protocol run: full pipeline over a deterministic synthetic
corpus at N executors. Prints one JSON line {"executors", "cores", "docs",
"wall_sec", ...}. Invoked for N and 4N by bench.py / BENCH docs.

Cluster simulation: Spark's local-cluster[N, cores, mem] launches REAL
separate executor JVMs + python workers — the honest stand-in for "N vs 4N
executors" (a single-JVM local[K] measures intra-JVM allocator/GC contention
instead of cluster scaling; we measured exactly that pathology). The package
ships to executors as a --py-files zip, same as a production spark-submit.

Usage: scaling_run.py <executors> <n_docs> [cores_per_executor]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    executors = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 150000
    cores_each = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    # Duplicate fd 2 into a per-shape log so executor/driver stack traces
    # survive the run — the campaign runner keeps only the last 500 chars of
    # captured stderr, which was not enough to root-cause the r7 rep0 RPC
    # death. dup2 catches the JVM's direct fd-2 writes, not just Python's.
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    log_path = os.path.join(here, "BENCH",
                            f"scaling_stderr_{executors}x{cores_each}.log")
    try:
        _logf = open(log_path, "wb", buffering=0)
        os.dup2(_logf.fileno(), 2)
    except OSError:
        pass
    # mode "local": single-JVM local[total_cores] — the task-brief-sanctioned
    # "local[8] vs local[32]" parallelism-level protocol. The heavy stage is
    # Arrow-batched PYTHON (separate worker processes either way); the JVM
    # side is scan/shuffle/serialize only.
    mode = sys.argv[4] if len(sys.argv) > 4 else "cluster"

    from pyspark.find_spark_home import _find_spark_home

    from scrubah_pii_spark.session import build_session
    from tools.make_pyfiles_zip import build_zip

    corpus = f"/tmp/scaling_corpus_{n_docs}.parquet"
    if not os.path.exists(corpus):
        from scrubah_pii_spark.sources.synth import generate_rows, write_parquet

        write_parquet(generate_rows(n_docs), corpus)

    zip_path = build_zip()
    total_cores = executors * cores_each
    # per-NODE memory grant, identical at N and 4N (fair-node protocol): a
    # real N-node cluster has 1/4 the 4N cluster's aggregate memory, so the
    # N side legitimately spills more at the same corpus. Round-3's 5 GB
    # grant was too small for the 1x8 side to even survive 8.67M rows;
    # round-4 raises the default via SCRUBAH_EXEC_MEM_MB.
    mem_mb = int(os.environ.get("SCRUBAH_EXEC_MEM_MB", "6144"))
    master = (
        f"local[{total_cores}]" if mode == "local"
        else f"local-cluster[{executors},{cores_each},{mem_mb}]"
    )
    conf = {}
    if mode == "local":
        # single-JVM: the driver IS the executor — give it the executor heap
        # (scaled with cores; default 1g OOMs 32 concurrent tasks + persist).
        # SCRUBAH_DRIVER_MEM_GB overrides for a memory-equal pair: the
        # cores-scaled formula gives local[8] only 8g, which OOMed the
        # dedup-tail shuffle at 8.67M docs (r7; local[32] got 20g and
        # passed). The task-brief pair varies PARALLELISM on one host, so
        # granting both sides the same heap is the fair protocol at sizes
        # where the columnar cache + shuffle no longer fit in 8g.
        mem_gb = os.environ.get("SCRUBAH_DRIVER_MEM_GB")
        mem_gb = int(mem_gb) if mem_gb else 4 + total_cores // 2
        conf["spark.driver.memory"] = f"{mem_gb}g"
    else:
        # local-cluster: the client-mode driver JVM defaults to -Xmx1g and
        # OOMed its RPC dispatcher at 8M docs in round 7 (rep0 1x8 died with
        # an Inbox RPC failure; rep1 4x8 spent 20+ min in driver GC before
        # "java.lang.OutOfMemoryError in dispatcher-event-loop"). 6g covers
        # task-metrics/AQE bookkeeping at 64 shuffle partitions x 8.67M rows.
        # (Builder-set spark.driver.memory IS honored here: each run is a
        # fresh subprocess, and pyspark forwards builder confs onto the
        # spark-submit command line, which sizes the client JVM from it.)
        conf["spark.driver.memory"] = "6g"
    conf.update({
        "spark.executor.memory": f"{max(1024, mem_mb - 1024)}m",
        # each executor JVM must size its GC/JIT pools for ITS core share,
        # not the whole host — otherwise N executors spawn N*32 GC threads
        # and stampede each other (standard multi-executor-per-node tuning)
        "spark.executor.extraJavaOptions": (
            f"-XX:ParallelGCThreads={cores_each} -XX:ConcGCThreads=2 "
            f"-XX:CICompilerCount=2 -XX:ActiveProcessorCount={cores_each}"),
        "spark.submit.pyFiles": zip_path,
        # the executors import the engine's worker daemon from the zip
        "spark.executorEnv.PYTHONPATH": zip_path,
        # round-5 lever: smaller Arrow batches shrink each python worker's
        # resident working set (batch in + features out held concurrently),
        # cutting peak memory-bandwidth demand when 32 workers share a host
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            os.environ.get("SCRUBAH_ARROW_BATCH", "2048"),
        # 256 MB: the dedup-verdict join's build side sits near 64 MB at this
        # corpus size — a flaky AQE broadcast decision was adding ±20 s of
        # sort-merge variance to otherwise identical runs
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        # split the input finely enough that the scan stage parallelizes at
        # both cluster sizes (the corpus is one parquet file; row groups are
        # the split unit)
        "spark.sql.files.maxPartitionBytes":
            str(int(os.environ.get("SCRUBAH_MAX_PART_MB", "8")) * 1024 * 1024),
        "spark.local.dir": "/dev/shm/spark-local",
        # r7: rep0 1x8 at 8M died ~38 min in with a driver-side RPC failure
        # while the host bw-probe read 30-50x throttled — a stalled executor
        # (GC pause / frozen memory path) can exceed the default 120 s
        # network timeout and get dropped. Widen the timeouts; a genuinely
        # hung run is still bounded by the runner's subprocess timeout.
        "spark.network.timeout": "800s",
        "spark.executor.heartbeatInterval": "30s",
        # r6 carry-forward #1: when the host is externally throttled, tasks
        # run slow enough that the scheduler's 3 s locality wait expires and
        # cached-partition consumers get scheduled off-executor, crawling on
        # remote cache-block fetches (observed again in r7 rep0: 4x8 tail at
        # ~0.2 load with all executors alive). Wait longer for process-local
        # slots; on a healthy host the queues drain far faster than 15 s and
        # the setting is invisible. Env-tunable for A/B: a too-long wait can
        # itself idle cores when cached blocks sit unevenly across the 4
        # executors and the tail stage has more tasks than local slots.
        "spark.locality.wait": os.environ.get("SCRUBAH_LOCALITY_WAIT", "15s"),
    })
    # the engine's session (AQE, Arrow, codegen cache, worker daemon, the
    # local filesystem that forks no chmod) with this run's settings on top
    spark = build_session(
        app_name=f"scaling-{executors}x{cores_each}", master=master,
        shuffle_partitions=total_cores * 2, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    import dataclasses

    from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG
    from scrubah_pii_spark.plans.pipeline import run_pipeline

    # the shipped product path: round-robin pre-UDF repartition, and the
    # eager label barrier wherever run_pipeline's input-size gate fires it
    cfg = DEFAULT_PIPELINE_CONFIG

    # optional corpus-shaping leg (round-6: the shaping ops had never run at
    # campaign scale): SCRUBAH_SHAPING_HOST_CAP / SCRUBAH_SHAPING_LANG_CAP
    host_cap_n = int(os.environ.get("SCRUBAH_SHAPING_HOST_CAP", "0"))
    lang_cap = int(os.environ.get("SCRUBAH_SHAPING_LANG_CAP", "0"))
    if host_cap_n or lang_cap:
        from scrubah_pii_spark.config import ShapingConfig

        cfg = dataclasses.replace(
            cfg, shaping=ShapingConfig(host_cap_n=host_cap_n, lang_cap=lang_cap)
        )

    df = spark.read.parquet(corpus)
    df.limit(64).count()  # warm-up: executor JVMs + Arrow init

    # Timing protocol (round 6). one_action=1 (default): time the single
    # user-facing action output.count(). persist() is lazy, NOT a stage
    # barrier — in one action the cache is populated inside the dedup
    # exchange-1 map stage, so the slim-projection shuffle WRITE overlaps the
    # label UDF per-partition (the round-5 verdict's named residual was the
    # barrier the old two-action instrumentation itself created: counting
    # labeled first forces a full materialization job before dedup's first
    # byte of shuffle). label_sec is then a post-hoc probe over the
    # now-cached frame (cache-read cost only, NOT the old label_sec).
    # one_action=0 restores the round-3..5 two-action split for comparison.
    one_action = os.environ.get("SCRUBAH_ONE_ACTION", "1") == "1"
    t0 = time.time()
    res = run_pipeline(df, cfg=cfg)
    t_plan = time.time() - t0
    if one_action:
        out_rows = res.output.count()
        wall = time.time() - t0
        t1 = time.time()
        labeled_rows = res.labeled.count()  # cached: probe, not stage time
        t_label_probe = time.time() - t1
        t_label, t_dedup = None, None
    else:
        labeled_rows = res.labeled.count()
        t_label = time.time() - t0
        t1 = time.time()
        out_rows = res.output.count()
        t_dedup = time.time() - t1
        wall = time.time() - t0
        t_label_probe = None
    res.labeled.unpersist()
    spark.stop()
    # a local-cluster Worker keeps each application's executor logs under
    # its work dir; drop this run's (a no-op in local mode)
    work = os.environ.get("SPARK_WORKER_DIR") or os.path.join(_find_spark_home(), "work")
    shutil.rmtree(os.path.join(work, app_id), ignore_errors=True)

    print(json.dumps({
        "mode": mode,
        "one_action": one_action,
        "shaping": {"host_cap_n": host_cap_n, "lang_cap": lang_cap},
        "executors": executors,
        "cores_per_executor": cores_each,
        "total_cores": total_cores,
        "docs": labeled_rows,
        "out_rows": out_rows,
        "wall_sec": round(wall, 2),
        "plan_sec": round(t_plan, 2),
        "label_sec": round(t_label, 2) if t_label is not None else None,
        "dedup_sec": round(t_dedup, 2) if t_dedup is not None else None,
        "label_cache_probe_sec": (
            round(t_label_probe, 2) if t_label_probe is not None else None
        ),
        "docs_per_sec": round(labeled_rows / wall, 1),
    }))


if __name__ == "__main__":
    main()
