"""Document quality heuristics (the quality-filter verdict inputs).

From-scratch implementations of:
  simplified per-doc quality gate  /root/reference/services/compressionPipeline.effect.ts:102-135
      score = 0.3*[alphaRatio>0.5] + 0.2*[0.1<spaceRatio<0.3]
            + 0.3*[3<avgWordLen<15] + 0.2*[wordCount>10];  pass iff >= 0.3
  garbage-token patterns           /root/reference/schemas/ocrQuality.ts:173-195
  OCR quality metrics              /root/reference/services/ocrQualityGate.effect.ts:123-247
The flagship runs these kernels inside its fused per-document Arrow UDF
(``operators/scrub_op.make_doc_features_extract_udf``), so they are both the
production path and the test oracle. q_quality_score and q_quality_routing
run the same score through ``operators/scrub_op.quality_metrics_udf``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_ALPHA_RE = re.compile(r"[a-zA-Z]")
_SPACE_RE = re.compile(r"\s")
_WS_SPLIT = re.compile(r"\s+")

# Anchored garbage-token patterns (ocrQuality.ts:173-186)
GARBAGE_PATTERNS = tuple(
    re.compile(p, re.ASCII)
    for p in (
        r"^[%#@&*+=|\\/<>~`^]{3,}$",      # runs of symbols
        r"^\|{2,}$",                       # pipe runs
        r"^_{3,}$",                        # underscore runs
        r"^\.{4,}$",                       # dot leaders
        r"^-{4,}$",                        # dash rules
        r"^[^\w\s]{4,}$",                  # any 4+ non-word chars
        r"^\d+[a-z]\d+[a-z]\d+$",          # digit-letter soup
        r"^[a-z]\d[a-z]\d[a-z]$",
        r"^[Il1|]{4,}$",                   # OCR confusion runs
        r"^[rn]{4,}m?$",
        r"^\W*$",                          # only non-word chars
    )
)

# One alternation of the self-anchored patterns: a single match call per
# token gives the same verdict as trying each pattern in turn.
_GARBAGE_RE = re.compile("|".join(f"(?:{p.pattern})" for p in GARBAGE_PATTERNS), re.ASCII)


def is_garbage_token(token: str) -> bool:
    if not token:
        return True
    if len(token) == 1 and not token.isalnum():
        return True
    return _GARBAGE_RE.match(token) is not None


@dataclass
class QualityMetrics:
    alpha_ratio: float
    space_ratio: float
    word_count: int
    avg_word_len: float
    garbage_ratio: float
    score: float
    passed: bool


def simple_quality_score(text: str, min_quality: float = 0.3) -> QualityMetrics:
    """The production keep/drop quality heuristic (doc length / symbol ratio /
    word shape), exactly as the reference's simplified gate computes it."""
    n = max(len(text), 1)
    alpha = len(_ALPHA_RE.findall(text)) / n
    space = len(_SPACE_RE.findall(text)) / n
    words = [w for w in _WS_SPLIT.split(text) if w]
    wc = len(words)
    avg_wl = (len(_SPACE_RE.sub("", text)) / wc) if wc > 0 else 0.0

    score = 0.0
    if alpha > 0.5:
        score += 0.3
    if 0.1 < space < 0.3:
        score += 0.2
    if 3 < avg_wl < 15:
        score += 0.3
    if wc > 10:
        score += 0.2

    tokens = words
    garbage = sum(1 for t in tokens if is_garbage_token(t))
    g_ratio = garbage / wc if wc else 1.0

    return QualityMetrics(
        alpha_ratio=alpha,
        space_ratio=space,
        word_count=wc,
        avg_word_len=avg_wl,
        garbage_ratio=g_ratio,
        score=score,
        passed=score >= min_quality,
    )


def repetition_ratio(text: str) -> float:
    """Fraction of duplicated word 3-grams — the 'repetition' heuristic of the
    north rule (no direct reference analog; standard webtext quality rule)."""
    ngram = 3
    words = [w for w in _WS_SPLIT.split(text.lower()) if w]
    if len(words) < ngram:
        return 0.0
    grams = [tuple(words[i : i + ngram]) for i in range(len(words) - ngram + 1)]
    return 1.0 - len(set(grams)) / len(grams)
