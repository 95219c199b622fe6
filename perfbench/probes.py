"""Measurement helpers that observe the engine from outside: /proc process
statistics, Spark event-log totals, physical-plan node counts, a host stamp
and order statistics."""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time

# Spark job groups: the timed runs, the one timed run with the event log
# detached (traced runs only), and everything else
TIMED_GROUP = "perfbench-timed"
UNTRACED_GROUP = "perfbench-untraced"
OTHER_GROUP = "perfbench-untimed"

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict:
    """pid -> (comm, ppid, own cpu s, reaped children cpu s)."""
    table = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(raw[: raw.index(" ")])
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        # rest[k - 3] is field k of proc(5): 4 ppid, 14-17 cpu ticks
        table[pid] = (
            comm,
            int(rest[1]),
            (int(rest[11]) + int(rest[12])) / _TICK,
            (int(rest[13]) + int(rest[14])) / _TICK,
        )
    return table


def descendants(root: int | None = None) -> dict:
    """The /proc rows of every live descendant of root (default: this
    process): the driver JVM, the PySpark daemon and its Python workers."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    children = {}
    for pid, row in table.items():
        children.setdefault(row[1], []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(children.get(pid, ()))
    return out


def _jit_seconds(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads (C1 and C2), which the
    benchmark keeps alive for the JVM's whole life
    (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time leaves
    the per-thread table."""
    total = 0.0
    for path in glob.glob(f"/proc/{pid}/task/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:  # the thread ended
            continue
        if raw[raw.index("(") + 1:].startswith(("C1 Compiler", "C2 Compiler")):
            rest = raw[raw.rindex(")") + 2:].split()
            total += (int(rest[11]) + int(rest[12])) / _TICK
    return total


def cpu_seconds() -> tuple:
    """(JVM cpu s without its JIT compiler threads, JIT compiler cpu s,
    Python-worker cpu s) over the live descendants. Python counts reaped
    children too, since the daemon reaps workers it forks."""
    jvm = jit = py = 0.0
    for pid, (comm, _, own, reaped) in descendants().items():
        if comm == "java":
            compile_s = _jit_seconds(pid)
            jvm += own - compile_s
            jit += compile_s
        elif comm.startswith("python"):
            py += own + reaped
    return jvm, jit, py


def host_ticks() -> tuple:
    """(steal, total) clock ticks of every CPU since boot, from /proc/stat:
    the time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pss_bytes(pid: int) -> int:
    """Proportional set size: each page shared by n processes counts 1/n,
    so the Python workers the PySpark daemon forks are not counted once per
    fork for the pages they share."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended
        pass
    return 0


class MemorySampler:
    """Background sampler of the summed PSS of all descendants (the driver
    JVM and the Python workers) from entry to exit; peak_mb is the highest
    sum seen. The JVM heap keeps its high-water mark, so the peak over the
    whole run is steadier than a peak over the timed runs alone."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.wait(self.interval):
            mb = sum(map(pss_bytes, descendants())) / 1e6
            self.peak_mb = max(self.peak_mb, mb)


def wait_for_descendants(timeout: float = 60.0) -> None:
    """Wait until every descendant process has exited; kill what is left
    after the timeout and reap it."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def eventlog_totals(log_dir: str, job_group: str) -> dict:
    """Task-metric totals over the jobs of one job group, read from the
    Spark event log (complete once the SparkContext has stopped; Spark 4
    writes it as a directory of event files)."""
    stages = set()
    tot = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == job_group:
                        tot["jobs"] += 1
                        stages.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
                    m = ev.get("Task Metrics") or {}
                    tot["tasks"] += 1
                    tot["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    tot["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                        + m.get("Disk Bytes Spilled", 0)) / 1e6
    return tot


PLAN_NODES = {
    "plan.arrow_eval_python": ("ArrowEvalPython",),
    "plan.exchange": ("Exchange", "BroadcastExchange", "ShuffleExchange"),
    "plan.window": ("Window",),
    "plan.in_memory_relation": ("InMemoryRelation",),
}
_NODE = re.compile(r"(?m)^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_node_counts(plan: str) -> dict:
    """Node counts of a physical plan's text (for a frame, the initial
    adaptive plan when AQE is on; planning runs no job)."""
    names = _NODE.findall(plan)
    return {k: sum(n in kinds for n in names) for k, kinds in PLAN_NODES.items()}


def host_stamp(master: str) -> dict:
    """Host state at start: cores, load, Spark master, and the memory
    bandwidth triad (tools/bw_probe.py) at 1 and nproc threads."""
    import concurrent.futures as cf

    from tools.bw_probe import triad

    nproc = len(os.sched_getaffinity(0))
    stamp = {"nproc": nproc, "load_at_start": os.getloadavg()[0], "master": master}
    for threads in sorted({1, nproc}):
        with cf.ThreadPoolExecutor(threads) as ex:
            gbps = sum(ex.map(lambda _: triad(n=2_000_000, reps=3), range(threads)))
        stamp[f"triad_{threads}t_gbps"] = round(gbps, 2)
    return stamp


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values) -> float:
    """The highest percentile with at least ten samples beyond it: the
    eleventh-largest value. Below 21 samples that value is not above the
    median, so the tail is the largest value."""
    ordered = sorted(values)
    if not ordered:
        return 0.0
    return ordered[-11] if len(ordered) >= 21 else ordered[-1]
