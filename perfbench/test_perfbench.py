"""The benchmark's own tests: the correctness checks catch a corrupted
output, and a tiny run of each workload passes its checks and prints every
metric BENCHMARK.json declares.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark, so the whole file takes a few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402


@pytest.fixture(scope="module")
def reference():
    rows = inputs.flagship_rows(60, seed=7)
    ref = checks.reference_labels(rows)
    keep = {url: d.keep for url, d in ref.items()}
    texts = [(url, d.scrubbed) for url, d in ref.items() if d.keep]
    assert any(keep.values()) and not all(keep.values())
    return ref, keep, texts


def test_checks_pass_the_reference_itself(reference):
    ref, keep, texts = reference
    assert checks.check_docs("t", keep, texts, ref, kept_only=True) == (1.0, 1.0, [])


def _corrupt(keep, texts, flip_label, change_byte):
    keep, texts = dict(keep), list(texts)
    if flip_label:
        url = next(u for u, k in keep.items() if not k)
        keep[url] = True
    if change_byte:
        url, text = texts[0]
        texts[0] = (url, ("X" if text[0] != "X" else "Y") + text[1:])
    return keep, texts


@pytest.mark.parametrize("flip_label,change_byte", [(True, False), (False, True), (True, True)])
def test_checks_catch_a_flipped_label_and_a_changed_byte(reference, flip_label, change_byte):
    ref, keep, texts = reference
    keep, texts = _corrupt(keep, texts, flip_label, change_byte)
    f1, exact, failures = checks.check_docs("t", keep, texts, ref, kept_only=True)
    assert len(failures) == flip_label + change_byte
    assert (f1 < 1.0) == flip_label
    assert (exact < 1.0) == change_byte


def test_batch_output_may_not_hold_a_dropped_doc(reference):
    ref, keep, texts = reference
    url, d = next((u, d) for u, d in ref.items() if not d.keep and d.scrubbed is not None)
    _, _, failures = checks.check_docs("t", keep, texts + [(url, d.scrubbed)], ref, kept_only=True)
    assert failures


def test_table_hash_is_order_insensitive_and_catches_a_changed_value():
    rows = [(1, "a b", 0.5), (2, "c", None)]
    cols = ["id", "text", "score"]
    h = checks.table_hash(cols, rows)
    assert checks.table_hash(cols[::-1], [r[::-1] for r in rows[::-1]]) == h
    assert checks.table_hash(cols, [(1, "a c", 0.5), (2, "c", None)]) != h


def _declared(kind: str) -> set:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["flagship", "corpus_ops"])
def test_tiny_run_passes_its_checks_and_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--docs", "40"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == _declared("per_layer" if trace else "end_to_end")
    if not trace:
        assert result["metrics"]["keep_drop_f1"]["value"] == 1.0
        assert result["metrics"]["scrub_exact_ratio"]["value"] == 1.0
