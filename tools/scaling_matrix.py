"""Config-matrix scaling experiment: which knobs move the N-vs-4N ratio.

Sequential (never concurrent) runs; one JSON line per run appended to
BENCH/scaling_matrix.jsonl. Interleaves configs so host drift hits all
configs equally.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(HERE, "BENCH", "scaling_matrix.jsonl")

CONFIGS = [
    # (tag, executors, cores_each, cpuset)
    ("rep4x8", 4, 8, None),
    ("rep1x8", 1, 8, None),
    # pinned N: the executor gets its PROPORTIONAL core share (1/4 host),
    # like one node of a 4-node cluster — an unpinned 1x8 run borrows the
    # whole host's idle cores/bandwidth for its JVM threads, which a real
    # cluster node cannot do, biasing T_N low and efficiency down.
    ("pin1x8", 1, 8, "0-7"),
]


def run(tag, execs, cores, cpuset=None, n_docs=650000):
    cmd = [sys.executable, os.path.join(HERE, "tools", "scaling_run.py"),
           str(execs), str(n_docs), str(cores)]
    if cpuset:
        cmd = ["taskset", "-c", cpuset] + cmd
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1200,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    rec = json.loads(lines[-1]) if lines else {"error": proc.stderr[-300:]}
    rec["tag"] = tag
    rec["ts"] = time.time()
    with open(OUT, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"{tag}: {rec.get('wall_sec')}s label={rec.get('label_sec')} dedup={rec.get('dedup_sec')}", flush=True)


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    for i in range(reps):
        for tag, execs, cores, cpuset in CONFIGS:
            if only and tag not in only:
                continue
            run(tag, execs, cores, cpuset)


if __name__ == "__main__":
    main()
