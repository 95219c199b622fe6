"""Per-stage wall decomposition of one scaling leg (round-7 diagnostic).

The 2M/4.33M product-path pairs fit wall = S*(8/cores) + T with a
non-scaling constant T ~= 61 s (throttled windows). This tool runs the SAME
leg as tools/scaling_run.py (local mode, one action + eager label barrier)
with the Spark event log enabled, then parses the log into a per-stage
table: which stages' walls shrink 4x from local[8] to local[32], and which
stay constant (those ARE T). Round-8 input: whatever dominates the constant
bucket is the next scaling lever.

Usage: stage_decomp.py <n_docs> <total_cores> [pin]
  pin: optional taskset range for fairness (e.g. "0-7") — applied by the
  CALLER via `taskset -c 0-7 python tools/stage_decomp.py ...`; recorded
  here only as a label.

Appends one JSON line per run to BENCH/stage_decomp_r7.jsonl:
  {"total_cores", "docs", "wall_sec", "stages": [{"id", "name", "tasks",
    "wall_sec", "task_time_sec"}...], "jobs": [...]}.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

EVENT_DIR = "/tmp/spark-events-r7"


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000000
    total_cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    pin = sys.argv[3] if len(sys.argv) > 3 else None

    os.makedirs(EVENT_DIR, exist_ok=True)
    for old in glob.glob(f"{EVENT_DIR}/*"):
        # Spark 4 writes rolling event-log DIRECTORIES (eventlog_v2_<app>/)
        shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)

    from pyspark.sql import SparkSession

    corpus = f"/tmp/scaling_corpus_{n_docs}.parquet"
    if not os.path.exists(corpus):
        from scrubah_pii_spark.sources.synth import generate_rows, write_parquet

        write_parquet(generate_rows(n_docs), corpus)

    # Same session shape as tools/scaling_run.py local mode (kept in sync by
    # hand — this is a diagnostic, not the measured protocol).
    spark = (
        SparkSession.builder.appName(f"stage-decomp-{total_cores}")
        .master(f"local[{total_cores}]")
        .config("spark.driver.memory", f"{4 + total_cores // 2}g")
        .config("spark.sql.shuffle.partitions", str(total_cores * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SCRUBAH_ARROW_BATCH", "256"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file:{EVENT_DIR}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from scrubah_pii_spark.plans.pipeline import run_pipeline

    df = spark.read.parquet(corpus)
    df.limit(64).count()  # warm-up, same as scaling_run

    t0 = time.time()
    res = run_pipeline(df)
    out_rows = res.output.count()
    wall = time.time() - t0
    docs = res.labeled.count()
    res.labeled.unpersist()
    spark.stop()

    stages, jobs = [], []
    subs, job_subs = {}, {}
    # flat single-file logs AND Spark-4 rolling dirs (events_* files inside)
    log_files = [p for p in glob.glob(f"{EVENT_DIR}/*") if os.path.isfile(p)]
    log_files += glob.glob(f"{EVENT_DIR}/*/events_*")
    for path in log_files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    subs[si["Stage ID"]] = si.get("Submission Time")
                elif k == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time") or subs.get(si["Stage ID"])
                    com = si.get("Completion Time")
                    if sub and com:
                        stages.append({
                            "id": si["Stage ID"],
                            "name": si.get("Stage Name", "")[:80],
                            "tasks": si.get("Number of Tasks"),
                            "wall_sec": round((com - sub) / 1000.0, 2),
                        })
                elif k == "SparkListenerJobStart":
                    job_subs[ev["Job ID"]] = ev.get("Submission Time")
                elif k == "SparkListenerJobEnd":
                    sub = job_subs.get(ev["Job ID"])
                    if sub and ev.get("Completion Time"):
                        jobs.append({
                            "id": ev["Job ID"],
                            "wall_sec": round(
                                (ev["Completion Time"] - sub) / 1000.0, 2),
                        })

    stages.sort(key=lambda s: s["id"])
    jobs.sort(key=lambda j: j["id"])
    rec = {
        "total_cores": total_cores, "pin": pin, "docs": docs,
        "out_rows": out_rows, "wall_sec": round(wall, 2),
        "sum_stage_wall": round(sum(s["wall_sec"] for s in stages), 2),
        "stages": stages, "jobs": jobs, "ts": time.time(),
    }
    out = os.path.join(HERE, "BENCH", "stage_decomp_r7.jsonl")
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps({k: rec[k] for k in
                      ("total_cores", "docs", "out_rows", "wall_sec",
                       "sum_stage_wall")}))
    for s in stages:
        print(f"  stage {s['id']:>3} {s['wall_sec']:>8.2f}s "
              f"{s['tasks']:>4} tasks  {s['name'][:60]}")


if __name__ == "__main__":
    main()
