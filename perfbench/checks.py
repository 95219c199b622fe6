"""Correctness checks, run outside every timed region.

The flagship and stream reference labels every input document with the pure
`core` kernels alone (no Spark, no operators/, no plans/), as
tools/gen_flagship_oracle_pure.py does. The corpus-operator reference is each
query's DuckDB oracle, compared by an order-insensitive value hash as in
tools/check_correctness.py."""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass

from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG as CFG
from scrubah_pii_spark.core import langid, quality, relevance, scrub
from scrubah_pii_spark.core.extract import extract_text


@dataclass(frozen=True)
class RefDoc:
    keep: bool              # recommendation != "discard"
    scrubbed: str | None    # None when the language/quality gates drop it
    gates_pass: bool
    generation: int


def doc_text(row: dict) -> str:
    return row["text"] if row["text"] is not None else extract_text(row["html"])


def reference_labels(rows: list, fixed_generation: int | None = None) -> dict:
    """url -> RefDoc. fixed_generation pins the recency generation (the
    streaming path scores every document as generation 2); otherwise it is
    current_year - year(warc_ts), as in the batch label stage."""
    scrub_fn = (
        scrub.scrub_text_production
        if CFG.scrub.scrub_mode == "worker_then_effect"
        else scrub.scrub_text
    )
    out = {}
    for r in rows:
        t = doc_text(r)
        gen = (fixed_generation if fixed_generation is not None
               else max(0, CFG.relevance.current_year - r["warc_ts"].year))
        q = quality.simple_quality_score(t, CFG.quality.ocr_min_quality)
        lang, _, _ = langid.heuristic_langid(t)
        if lang in CFG.langid.keep_langs and q.passed:
            sc = scrub_fn(t)
            rec = relevance.relevance_score(sc.text, "", generation=gen).recommendation
            out[r["url"]] = RefDoc(rec != "discard", sc.text, True, gen)
        else:
            out[r["url"]] = RefDoc(False, None, False, gen)
    return out


def check_docs(what: str, keep: dict, texts: list, ref: dict, kept_only: bool):
    """Compare an engine's labels and scrubbed texts with the reference.

    keep maps every input url to the engine's keep label; texts lists the
    (url, scrubbed_text) rows of the engine's output. With kept_only, an
    output row of a doc the reference drops is a mismatch (the batch
    output holds kept docs only). Returns (keep/drop F1, share of output
    rows whose text is byte-identical to the reference's, failure
    messages)."""
    ref_keep = {url: d.keep for url, d in ref.items()}
    failures = []
    if keep != ref_keep:
        wrong = sorted(u for u in ref_keep.keys() | keep.keys()
                       if keep.get(u) != ref_keep.get(u))
        failures.append(f"{what}: keep/drop label differs on {len(wrong)} docs, "
                        f"first {wrong[0]}")
    engine = dict(texts)
    ref_text = {url: d.scrubbed for url, d in ref.items() if d.keep or not kept_only}
    if len(engine) != len(texts):
        failures.append(f"{what}: {len(texts) - len(engine)} duplicate output urls")
    exact = exact_ratio(engine, ref_text)
    if not texts or exact != 1.0:
        bad = sorted(u for u, t in engine.items() if u not in ref_text or ref_text[u] != t)
        failures.append(f"{what}: scrubbed_text differs on {len(bad)} of "
                        f"{len(engine)} output urls, first {bad[:1]}")
    return keep_drop_f1(keep, ref_keep), exact, failures


def keep_drop_f1(engine_keep: dict, ref_keep: dict) -> float:
    """F1 of the engine's keep labels against the reference, keyed by doc;
    a doc missing from the engine side counts as dropped."""
    tp = fp = fn = 0
    for key, want in ref_keep.items():
        got = engine_keep.get(key, False)
        tp += got and want
        fp += got and not want
        fn += want and not got
    fp += sum(1 for k, v in engine_keep.items() if v and k not in ref_keep)
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def exact_ratio(engine_text: dict, ref_text: dict) -> float:
    """Share of engine output docs whose text equals the reference's byte
    for byte (a doc the reference lacks counts as a mismatch)."""
    if not engine_text:
        return 0.0
    same = sum(1 for k, v in engine_text.items() if k in ref_text and ref_text[k] == v)
    return same / len(engine_text)


def canon(v) -> str:
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list, rows: list) -> str:
    """Order-insensitive value hash: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
