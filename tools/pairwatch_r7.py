"""Opportunistic north-rule pair runner (round 7).

The r7 campaign window was externally throttled (triad probes 0.3-6 GB/s
against a healthy 10-20 GB/s/core); single shots of the local[8]-vs-local[32]
pair keep landing in bad weather. This watcher loops for the rest of the
session: probe the host, and when the window looks healthy — or when too long
has passed since the last attempt — run one full pinned local[8] + local[32]
pair at the PRODUCT path (one action + eager label barrier, the configuration
a real spark-submit of this pipeline runs after the r7 A/B reversal) and
append probe-stamped legs + a pair summary to BENCH/scaling_r7.jsonl.

Healthy window := probe fair (32t >= 3x 8t) AND triad_32t >= 15 GB/s.
Stops after `max_pairs` pairs, after two pairs clear the 0.8 gate, or at the
deadline.

  python tools/pairwatch_r7.py [n_docs=2000000] [max_pairs=4] [max_minutes=240]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "tools"))

from scaling_r7 import OUT, probe  # noqa: E402

# run a (stamped) pair even in bad weather after this long; 0 disables
# forcing entirely (healthy-window-only mode — used for the 8.67M pair,
# where a bad-weather run burns an hour and records nothing useful)
FORCE_AFTER_SEC = (int(os.environ.get("SCRUBAH_PAIRWATCH_FORCE_MIN", "45"))
                   * 60) or float("inf")
POLL_SEC = 150


def healthy(pr: dict) -> bool:
    return bool(pr.get("fair")) and pr.get("triad_32t_gbps", 0) >= 15.0


def leg(total_cores: int, n_docs: int, pin: str | None, note: str) -> dict:
    pr = probe()
    cmd = [sys.executable, os.path.join(HERE, "tools", "scaling_run.py"),
           "1", str(n_docs), str(total_cores), "local"]
    if pin:
        cmd = ["taskset", "-c", pin] + cmd
    env = dict(os.environ, SCRUBAH_ARROW_BATCH="256")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=7200,
                          env=env)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    rec = (json.loads(lines[-1]) if lines
           else {"error": proc.stderr[-500:]})
    rec.update(n_docs_arg=n_docs, pin=pin, note=note, probe=pr,
               ts=time.time())
    with open(OUT, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def run_pair(i: int, n_docs: int) -> dict | None:
    r8 = leg(8, n_docs, "0-7", f"pairwatch local[8] pinned product-path rep{i}")
    print(f"pair{i} local[8]: {r8.get('wall_sec')}s out={r8.get('out_rows')} "
          f"probe={r8.get('probe')}", flush=True)
    r32 = leg(32, n_docs, None, f"pairwatch local[32] product-path rep{i}")
    print(f"pair{i} local[32]: {r32.get('wall_sec')}s out={r32.get('out_rows')} "
          f"probe={r32.get('probe')}", flush=True)
    if not (r8.get("wall_sec") and r32.get("wall_sec")):
        return None
    pair = {
        "rep": i, "wall_8": r8["wall_sec"], "wall_32": r32["wall_sec"],
        "docs_per_sec_8": r8.get("docs_per_sec"),
        "docs_per_sec_32": r32.get("docs_per_sec"),
        "efficiency": round(r8["wall_sec"] / r32["wall_sec"] / 4, 3),
        "rows_identical": r8.get("out_rows") == r32.get("out_rows"),
        "fair_window": bool(r8["probe"].get("fair")
                            and r32["probe"].get("fair")),
        "healthy_window": healthy(r8["probe"]) and healthy(r32["probe"]),
    }
    print(f"pair{i} efficiency: {pair['efficiency']} "
          f"(fair={pair['fair_window']} healthy={pair['healthy_window']})",
          flush=True)
    return pair


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000000
    max_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    max_minutes = int(sys.argv[3]) if len(sys.argv) > 3 else 240

    deadline = time.time() + max_minutes * 60
    last_attempt = 0.0
    pairs = []
    i = 0
    while i < max_pairs and time.time() < deadline:
        pr = probe()
        force = time.time() - last_attempt >= FORCE_AFTER_SEC
        if healthy(pr) or force:
            print(f"launching pair {i}: probe={pr} force={force}", flush=True)
            last_attempt = time.time()
            p = run_pair(i, n_docs)
            if p:
                pairs.append(p)
            i += 1
            if sum(1 for p in pairs if p["efficiency"] >= 0.8) >= 2:
                break
        else:
            time.sleep(POLL_SEC)

    effs = [p["efficiency"] for p in pairs]
    summary = {
        "pairwatch_r7": True, "n_docs": n_docs,
        "protocol": "product path: one action + eager label barrier",
        "pairs": pairs,
        "median_efficiency": round(statistics.median(effs), 3) if effs else None,
        "best_efficiency": max(effs) if effs else None,
        "gate_0.8": bool(effs and max(effs) >= 0.8),
    }
    print(json.dumps(summary), flush=True)
    with open(OUT, "a") as f:
        f.write(json.dumps({"summary": summary, "ts": time.time()}) + "\n")


if __name__ == "__main__":
    main()
