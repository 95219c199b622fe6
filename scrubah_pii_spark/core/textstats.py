"""Text-analysis kernels for training-data pipelines.

Token counting (whitespace + BPE-ish regex), shingling for MinHash/Jaccard
dedup. Pure functions; the Spark-native equivalents live in functions/ and
operators/.
"""

from __future__ import annotations

import re

_WS_RE = re.compile(r"\s+")
# BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs (GPT-2 style
# contractions handled coarsely; ASCII-focused like the rest of the engine).
_BPE_RE = re.compile(
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+(?!\S)|\s+",
    re.ASCII,
)


def whitespace_token_count(text: str) -> int:
    return sum(1 for w in _WS_RE.split(text) if w)


def bpe_ish_token_count(text: str) -> int:
    return sum(1 for _ in _BPE_RE.finditer(text))


def word_shingles(text: str, k: int = 3, min_word_len: int = 0) -> set:
    words = [w for w in _WS_RE.split(text.lower()) if len(w) > min_word_len]
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 0.0
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def word_set(text: str, min_len: int = 3) -> set:
    """Word set for the reference's Jaccard dedup: words with len > 3
    (compressionPipeline.effect.ts:195-198)."""
    return {w for w in _WS_RE.split(text.lower()) if len(w) > min_len}
