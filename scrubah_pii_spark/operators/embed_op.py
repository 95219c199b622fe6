"""Embedding generation (MiniLM analog) + chunking plumbing.

Reference semantics: semanticDedup.effect.ts:147-226 — chunk 512 chars with
50 overlap, embed each chunk, mean-pool, L2-normalize, mean-aggregate chunk
vectors. The real model (sentence-transformers all-MiniLM-L6-v2) is a gated
import loaded once per executor; this container has no torch, so the default
embedder is a deterministic feature-hashing projection — REAL plumbing
(chunking, pooling, normalization, Arrow batching) with a stand-in encoder,
mirroring the multimodal decode stub policy."""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from .row_udf import row_udf

_WS_RE = re.compile(r"\s+")

_ST_MODEL = None

# semanticDedup.ts:296-313: 512-char chunks overlapping by 50 chars
CHUNK_SIZE = 512
CHUNK_OVERLAP = 50
# width of the hash encoder's vectors (all-MiniLM-L6-v2 emits 384)
EMBED_DIM = 64


def chunk_text(text: str) -> list:
    """semanticDedup.ts:296-313 chunking: fixed windows with overlap."""
    if not text:
        return []
    size = CHUNK_SIZE
    step = max(1, size - CHUNK_OVERLAP)
    return [text[i : i + size] for i in range(0, len(text), step) if text[i : i + size]]


# word -> (bucket, sign) memo: md5 of a word is a pure function and corpus
# vocabulary repeats massively, so one digest per DISTINCT word per worker
# (bounded; reset when it grows past ~1M entries). Accumulation order is
# unchanged, so float sums are bit-identical to the uncached path.
_WORD_BUCKET: dict = {}


def _hash_embed(chunk: str) -> list:
    """Deterministic stand-in encoder: word feature-hashing with signed
    buckets, L2-normalized. Replace with sentence-transformers in prod."""
    dim = EMBED_DIM
    vec = [0.0] * dim
    memo = _WORD_BUCKET
    if len(memo) > 1_000_000:
        memo.clear()
    for w in _WS_RE.split(chunk.lower()):
        if not w:
            continue
        hit = memo.get(w)
        if hit is None:
            d = hashlib.md5(w.encode()).digest()
            hit = (d[0], 1.0 if d[1] % 2 == 0 else -1.0)
            memo[w] = hit
        vec[hit[0] % dim] += hit[1]
    norm = math.sqrt(sum(v * v for v in vec))
    return [v / norm for v in vec] if norm > 0 else vec


def embed_document(text: str, model_name: str | None = None) -> list:
    """Chunk -> encode -> mean-pool -> L2-normalize. With model_name set,
    uses a sentence-transformers executor singleton (gated import)."""
    chunks = chunk_text(text)
    if not chunks:
        return [0.0] * EMBED_DIM
    if model_name:
        global _ST_MODEL
        if _ST_MODEL is None:
            try:
                from sentence_transformers import SentenceTransformer  # type: ignore
            except ImportError as e:  # pragma: no cover
                raise NotImplementedError(
                    "sentence-transformers not installed; ship via --py-files "
                    "or use the default hashing encoder"
                ) from e
            _ST_MODEL = SentenceTransformer(model_name)
        vecs = _ST_MODEL.encode(chunks).tolist()
    else:
        vecs = [_hash_embed(c) for c in chunks]
    dim = len(vecs[0])
    pooled = [sum(v[i] for v in vecs) / len(vecs) for i in range(dim)]
    norm = math.sqrt(sum(v * v for v in pooled))
    return [v / norm for v in pooled] if norm > 0 else pooled


def add_embeddings(df: DataFrame, text_col: str) -> DataFrame:
    @row_udf(ArrayType(FloatType()))
    def embed_udf(text):
        return embed_document(text or "")

    return df.withColumn("embedding", embed_udf(F.col(text_col)))
