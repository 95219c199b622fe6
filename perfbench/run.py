"""Benchmark of the scrubah_pii_spark engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Generates the workload's input from the seed, starts Spark on local[nproc]
in this one driver process, runs one untimed warm-up, then times a closed
loop of runs (the workload's MIN_REPS, and more until --seconds have been
timed), checks every output against an independent reference outside
the timed region, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}.

The end-to-end times are CPU seconds of the engine's processes (the driver
JVM without its JIT compiler threads, the Python workers and the PySpark
driver thread), not wall seconds. On a shared virtual host the CPU time the
hypervisor steals from this machine changes from minute to minute, and
wall times of the same code moved by up to 2x between runs (4.2 s at 4%
steal, 7.9 s at 25% on a corpus_ops pass, 4 vCPUs); the engine's CPU time
moved by about a tenth. JIT compilation, which recompiles each query's
generated code and swung by a third between runs, is reported per layer
(proc.jit_cpu_s), as are the wall times (run.*). Every run's JSON record
keeps its wall times and the host's steal share in each timed region.
The JVMs run the serial collector: G1 sizes its heap by measured pause
times, so its footprint followed host load (peak_rss_mb spread 24% over
five runs); the serial collector's sizing follows allocation alone (5%).

With --trace 0 the metrics are the end-to-end ones. With --trace 1 Spark's
event log is on, one run is timed with it and one with the event logger
detached (the difference is the tracing overhead), the public entry points
of each layer are timed from outside, and the metrics are the per-layer
ones. Every run also writes a JSON
record (host stamp, every sample, failures) under .perfbench_out/ at the
repository root. perfbench/test_perfbench.py holds the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Bench:
    """One benchmark process: its work directory, its Spark session, the
    process sampler and the pass/fail ledger of runs and checks."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from probes import MemorySampler

        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        for d in (self.work, self.out_dir, self.path("tmp"), self.path("events")):
            os.makedirs(d, exist_ok=True)
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.attempted = self.failed = 0
        self.failures: list = []
        self.cached_left: list = []
        self.cpu = [0.0] * 4  # JVM, JIT, Python-worker, driver-thread cpu s in timed runs
        self.batch_cpu: list = []  # engine CPU s of each timed region
        self.steal: list = []  # share of host CPU time stolen in each timed region
        self.memory = MemorySampler()
        self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, name: str) -> str:
        d = self.path(name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def start_session(self) -> float:
        """Start Spark with all its scratch space inside the work directory;
        returns the seconds the session took to start."""
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = self.path("tmp")
        # every JVM, the spark-submit launcher's too, keeps its perf data
        # and temp files out of /tmp, runs the serial collector and keeps
        # its JIT compiler threads for its whole life (see the module
        # docstring and probes.cpu_seconds)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            "-XX:-UsePerfData -XX:+UseSerialGC -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={self.path('tmp')}")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("tmp"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("events")
            conf["spark.eventLog.compress"] = "false"
        from probes import OTHER_GROUP
        from scrubah_pii_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", master=self.master,
            shuffle_partitions=2 * self.nproc, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.sparkContext.setJobGroup(OTHER_GROUP, "untimed")
        return time.perf_counter() - t0

    def detach_event_log(self) -> None:
        """Take Spark's event logger off the listener bus once it has seen
        every event so far; the log file stays open and is completed when
        the context stops."""
        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(sc.eventLogger().get())

    def timed(self, fn, group: str):
        """Run fn as a timed region: its jobs carry the job group, and the
        CPU of the JVM, the Python workers and this driver thread is
        counted (each timed region of probes.TIMED_GROUP appends its engine
        CPU seconds, JIT compiler threads left out, to batch_cpu). Returns
        (fn's result, seconds)."""
        from probes import OTHER_GROUP, TIMED_GROUP, host_ticks

        sc = self.spark.sparkContext
        sc.setJobGroup(group, "timed")
        jvm0, jit0, py0, main0 = engine_cpu()
        steal0, total0 = host_ticks()
        t0 = time.perf_counter()
        value = fn()
        seconds = time.perf_counter() - t0
        steal1, total1 = host_ticks()
        jvm1, jit1, py1, main1 = engine_cpu()
        sc.setJobGroup(OTHER_GROUP, "untimed")
        if group == TIMED_GROUP:
            self.cpu[0] += max(0.0, jvm1 - jvm0)
            self.cpu[1] += max(0.0, jit1 - jit0)
            self.cpu[2] += max(0.0, py1 - py0)
            self.cpu[3] += max(0.0, main1 - main0)
            self.batch_cpu.append(max(0.0, (jvm1 + py1 + main1) - (jvm0 + py0 + main0)))
            self.steal.append((steal1 - steal0) / max(1, total1 - total0))
        return value, seconds

    def hygiene(self, record: bool = True) -> None:
        """Record how many persisted RDDs the last run left behind (unless
        the frames were the benchmark's own), then drop every cached frame
        and persisted RDD."""
        jsc = self.spark.sparkContext._jsc
        if record:
            self.cached_left.append(jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def stop(self) -> None:
        """Stop Spark, end the gateway JVM and wait for every process this
        benchmark started."""
        from pyspark import SparkContext

        from probes import wait_for_descendants

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF of stdin
                proc.wait(timeout=60)
        wait_for_descendants()


def engine_cpu() -> tuple:
    """CPU seconds so far of the engine's processes: (driver JVM without
    its JIT compiler threads, the JIT compiler threads, Python workers,
    this process's main thread, which runs the PySpark driver code). Called
    from the main thread; the memory sampler's thread is not counted."""
    from probes import cpu_seconds

    return (*cpu_seconds(), time.thread_time())


def log(phase: str) -> None:
    """Phase marks on stderr, for reading where a run's time went."""
    print(f"perfbench {time.perf_counter():.1f} {phase}", file=sys.stderr, flush=True)


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run(args) -> dict:
    import probes
    import workloads

    bench = Bench(args.workload, args.seed, bool(args.trace))
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": probes.host_stamp(bench.master)}
    print("perfbench host " + json.dumps(record["host"]), flush=True)
    try:
        log("inputs")
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](bench, args.docs)
        record["inputs_s"] = time.perf_counter() - t0
        untraced = []
        with bench.memory:
            cpu0 = engine_cpu()
            session_s = bench.start_session()
            try:
                log("warmup")
                warmup_s = wl.warmup()
                jvm, _, py, main = (b - a for a, b in zip(cpu0, engine_cpu()))
                setup_cpu = jvm + py + main
                log("timed")
                durations, cpus = [], []
                # a traced run times one run with and one without the event log
                reps = 1 if bench.trace else wl.MIN_REPS
                while len(durations) < reps or sum(durations) < args.seconds:
                    k = len(bench.batch_cpu)
                    durations.append(wl.run(probes.TIMED_GROUP))
                    cpus.append(sum(bench.batch_cpu[k:]))
                if bench.trace:
                    bench.detach_event_log()
                    untraced.append(wl.run(probes.UNTRACED_GROUP))
                    log("layers")
                    layers = wl.layers()
            finally:
                log("stop")
                t_stop = time.perf_counter()
                bench.stop()
                record["stop_s"] = time.perf_counter() - t_stop
        n = len(durations)
        wall = probes.median(durations)
        cpu = probes.median(cpus)
        # engine CPU seconds, not wall seconds (see the module docstring)
        e2e = {
            "cpu_s": metric(cpu, "s"),
            "docs_per_cpu_s": metric(wl.n_docs / cpu, "1/s"),
            "setup_s": metric(setup_cpu, "s"),
            "peak_rss_mb": metric(bench.memory.peak_mb, "MB"),
            "keep_drop_f1": metric(min(wl.f1), "ratio"),
            "scrub_exact_ratio": metric(min(wl.exact), "ratio"),
        }
        # the batches are the workload's timed units of work (a flagship
        # run, a corpus query)
        record.update(durations_s=durations, cpu_s=cpus, batch_s=wl.batch_s,
                      batch_cpu_s=bench.batch_cpu, steal_share=bench.steal,
                      timed_cpu_jvm_jit_python_driver_s=bench.cpu,
                      session_s=session_s, warmup_s=warmup_s, setup_wall_s=session_s + warmup_s,
                      n_docs=wl.n_docs, end_to_end=e2e, attempted=bench.attempted,
                      failures=bench.failures)
        if bench.trace:
            spark_tot = probes.eventlog_totals(bench.path("events"), probes.TIMED_GROUP)
            layers.update({
                "spark.executor_run_s": (spark_tot["run_s"] / n, "s"),
                "spark.executor_cpu_s": (spark_tot["cpu_s"] / n, "s"),
                "spark.shuffle_write_mb": (spark_tot["shuffle_write_mb"] / n, "MB"),
                "spark.spill_mb": (spark_tot["spill_mb"] / n, "MB"),
                "spark.tasks": (spark_tot["tasks"] / n, "count"),
                "spark.jobs": (spark_tot["jobs"] / n, "count"),
                "proc.jvm_cpu_s": (bench.cpu[0] / n, "s"),
                "proc.jit_cpu_s": (bench.cpu[1] / n, "s"),
                "proc.python_cpu_s": (bench.cpu[2] / n, "s"),
                "proc.driver_cpu_s": (bench.cpu[3] / n, "s"),
                "spark.cached_rdds_left": (max(bench.cached_left), "count"),
                "failed_ratio": (bench.failed / bench.attempted, "ratio"),
                # wall times: the run with the event logger detached, and
                # the traced run's batches
                "run.wall_s": (probes.median(untraced), "s"),
                "run.docs_per_s": (wl.n_docs / probes.median(untraced), "1/s"),
                "run.batch_p50_s": (probes.median(wl.batch_s), "s"),
                "run.batch_tail_s": (probes.tail(wl.batch_s), "s"),
            })
            unrun = {k: (0.0, u) for k, u in workloads.WORKLOAD_LAYERS.items()}
            metrics = {k: metric(v, u) for k, (v, u) in sorted({**unrun, **layers}.items())}
            record.update(per_layer=metrics, untraced_durations_s=untraced,
                          tracing_overhead_s=wall - probes.median(untraced))
            name = f"layers_{args.workload}_seed{args.seed}.json"
        else:
            metrics = e2e
            name = f"e2e_{args.workload}_seed{args.seed}.json"
        with open(os.path.join(bench.out_dir, name), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        return {"correct": bench.failed == 0, "attempted": bench.attempted,
                "failed": bench.failed, "metrics": metrics}
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("flagship", "corpus_ops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="input size in base docs (the smoke tests use a tiny one)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scrubah_pii_spark")):
        print(f"perfbench: no scrubah_pii_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    log("main")
    result = run(args)
    log("end")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
