"""SPARK-FREE flagship oracle generator (VERDICT r6 "what's wrong" #1 /
next-round #4: the committed golden must not be produced by
q_pipeline_flagship itself).

This reimplements the flagship pipeline's semantics in plain Python over the
parquet table directly — the per-doc stages drive the SAME pure core kernels
the JS-parity harness gates byte-exact (core.quality / core.langid /
core.scrub / core.relevance / core.hashing), while everything the Spark layer
adds on top (gate wiring, column plumbing, the fused-Arrow struct types, the
exact-dup window, the 4x16-bit banded simhash verdict chain with its
first-previous-wins min_by fold, the survivor join) is REIMPLEMENTED here
from the written spec (contentHasher.effect.ts:240-301 verdict tiers,
timelineOrganizer.effect.ts:246-305 ordering), not imported from
scrubah_pii_spark.operators / .plans. Agreement between this generator and
q_pipeline_flagship is therefore two independent implementations meeting,
which is what makes the committed golden an oracle rather than a pin.

  python tools/gen_flagship_oracle_pure.py /root/testdata/sf0.01 \
      tests/golden/flagship_oracle_sf001.json
"""

from __future__ import annotations

import json
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# pure kernels only — no pyspark, no operators/, no plans/
from scrubah_pii_spark.core import hashing, langid, quality, relevance, scrub  # noqa: E402

KEEP_LANGS = ("en",)
MIN_QUALITY = 0.3
NEAR_THRESHOLD = 0.95
SAME_EVENT_THRESHOLD = 0.70
BANDS = 4
WARC_TS = "2025-06-01 00:00:00"
ORDER_TS = "20250601000000"  # date_format(warc_ts, yyyyMMddHHmmss)
GENERATION = 1  # max(0, current_year 2026 - year(2025-06-01))

# doc_type_expr twin (functions/hashing_expr.py:53-72; the keyword cascade of
# contentHasher.effect.ts:151-171). probe = lower(concat_ws(' ', '', text[:500]))
_DOC_TYPE_CASES = (
    ("lab_report", r"lab|labrpt|cbc|cmp|bmp|wbc|hemoglobin"),
    ("imaging", r"ct|mri|x-?ray|ultrasound|imaging|radiology|mammogram"),
    ("pathology", r"pathology|biopsy|specimen|histology"),
    ("progress_note", r"progress note|soap|assessment|plan|provider"),
    ("medication", r"medication|prescription|refill|pharmacy"),
    ("discharge", r"discharge|summary|follow-?up instructions"),
    ("correspondence", r"letter|correspondence|referral"),
)
_DOC_TYPE_RES = [(name, re.compile(pat)) for name, pat in _DOC_TYPE_CASES]


def doc_type(scrubbed: str | None) -> str:
    probe = (" " + (scrubbed or "")[:500]).lower()
    for name, rx in _DOC_TYPE_RES:
        if rx.search(probe):
            return name
    return "unknown"


def spark_round(x: float | None, scale: int = 6) -> float | None:
    """F.round(col, 6): BigDecimal.valueOf(double).setScale(6, HALF_UP).
    BigDecimal.valueOf uses Double.toString == Python repr(float)."""
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-scale),
                                            rounding=ROUND_HALF_UP))


def label_docs(rows):
    """Per-doc half: langid -> quality -> gated scrub -> simhash ->
    relevance (operators/scrub_op.make_doc_features_extract_udf semantics,
    restated from the stage spec; kernels are the shared byte-gated
    cores)."""
    out = []
    for doc_id, text, _lang in rows:
        url = f"doc://{doc_id}"
        t = text if text is not None else ""  # extract_text(None) == ""
        q = quality.simple_quality_score(t, MIN_QUALITY)
        lang_pred, _, _ = langid.heuristic_langid(t)
        if lang_pred in KEEP_LANGS and q.passed:
            sc = scrub.scrub_text_production(t)
            rel = relevance.relevance_score(sc.text, "", generation=GENERATION)
            out.append({
                "url": url,
                "scrubbed_text": sc.text,
                "pii_count": sc.count,
                "lang_pred": lang_pred,
                "quality_score": q.score,
                "relevance_score": rel.score,
                "recommendation": rel.recommendation,
                "simhash": hashing.simhash_int(sc.text),
                "doc_type": doc_type(sc.text),
            })
        else:
            # gate-failed docs are discarded before dedup; they never reach
            # the flagship output projection
            pass
    return out


def _u64(x: int) -> int:
    return x & 0xFFFFFFFFFFFFFFFF


def band_bits(simhash: int, band: int, bands: int = BANDS) -> int:
    width = 64 // bands
    return (_u64(simhash) >> (band * width)) & ((1 << width) - 1)


def simhash_similarity(a: int, b: int) -> float:
    return 1.0 - bin(_u64(a) ^ _u64(b)).count("1") / 64.0


def dedup_verdicts(docs):
    """Plain-Python twin of the fused verdict chain: exact-dup earliest-
    (ts,url)-wins on content_hash, then per-(band,bits) bucket-representative
    comparison, then a first-previous-wins fold over each doc's band rows
    ('~' sentinel sorts after every order key, so 'unique' only when no band
    matched). All docs share WARC_TS here, so ordering reduces to url and the
    72h same-event window is always satisfied."""
    # exact dedup
    by_hash: dict[str, list[dict]] = {}
    for d in docs:
        by_hash.setdefault(d["content_hash"], []).append(d)
    uniq = [min(ds, key=lambda d: d["url"]) for ds in by_hash.values()]

    # banded buckets
    buckets: dict[tuple[int, int], list[dict]] = {}
    for d in uniq:
        for b in range(BANDS):
            buckets.setdefault((b, band_bits(d["simhash"], b)), []).append(d)

    # per-doc fold rows: (fold_order, rep_url, sim, pair_type)
    folds: dict[str, list[tuple]] = {d["url"]: [] for d in uniq}
    for bucket in buckets.values():
        rep = min(bucket, key=lambda d: d["url"])
        rep_order = ORDER_TS + "|" + rep["url"]
        for d in bucket:
            if d["url"] == rep["url"]:
                folds[d["url"]].append(("~", None, None, None))
                continue
            sim = simhash_similarity(d["simhash"], rep["simhash"])
            if sim >= NEAR_THRESHOLD:
                pt = "near-duplicate"
            elif sim >= SAME_EVENT_THRESHOLD and d["doc_type"] == rep["doc_type"]:
                pt = "same-event"  # |ts - rep_ts| = 0 <= 72h always
            else:
                pt = None
            folds[d["url"]].append(
                (rep_order if pt is not None else "~", rep["url"], sim, pt)
            )

    verdicts = {}
    for d in uniq:
        _, rep_url, sim, pt = min(folds[d["url"]], key=lambda r: r[0])
        verdicts[d["url"]] = {
            "difference_type": pt if pt is not None else "unique",
            "is_near_dup": pt == "near-duplicate",
        }
    return uniq, verdicts


def generate(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()

    labeled = label_docs(rows)
    candidates = [d for d in labeled if d["recommendation"] != "discard"]
    for d in candidates:
        d["content_hash"] = hashing.content_hash(d["scrubbed_text"])
    uniq, verdicts = dedup_verdicts(candidates)

    out = []
    for d in uniq:
        v = verdicts[d["url"]]
        if v["is_near_dup"]:
            continue
        out.append({
            "url": d["url"],
            "scrubbed_text": d["scrubbed_text"],
            "pii_count": d["pii_count"],
            "lang_pred": d["lang_pred"],
            "quality_score": spark_round(d["quality_score"]),
            "relevance_score": spark_round(d["relevance_score"]),
            "recommendation": d["recommendation"],
            "content_hash": d["content_hash"],
            "simhash": d["simhash"],
            "difference_type": v["difference_type"],
        })
    out.sort(key=lambda d: d["url"])
    return out


def main(sf_dir: str, out_path: str):
    rows = generate(sf_dir)
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=0, sort_keys=True)
    print(f"wrote {out_path}: {len(rows)} rows (spark-free)")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
