"""Reference implementations the tests compare the engine against. None of
them runs in a query or the pipeline; each is the plain form of an engine
path:

- simhash_bits: the 64-vote loop that core.hashing.simhash_int packs with
  numpy;
- normalize_for_fingerprint and extract_ngrams: the normalized FNV-1a
  n-gram windows the in-plan template corpus must hash identically;
- might_contain_pii: the pure-Python twin of
  operators.scrub_op.leak_check_expr;
- connected_components and cosine_pairs: iterative star-contraction over
  expression-fold LSH pairs, which operators.clustering.lsh_semantic_clusters
  and operators.similarity.lsh_cosine_pairs_fast must match;
- brute_force_topk: the exact top-k baseline for ivf_topk;
- reconstruct_ngram_documents: the inverse of strip_ngram_templates
  (strip then reconstruct is the identity);
- encode_pgm and encode_png_palette: fixture writers for the decoders.

The dedup and Jaccard references are in dedup_reference.py."""

from __future__ import annotations

import re
import struct
import zlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scrubah_pii_spark.core.hashing import (
    _WS_RE,
    fnv1a64_hex,
    js_string_hash32,
    normalize_for_hashing,
)
from scrubah_pii_spark.core.png_codec import PNG_SIG, _crc_chunk
from scrubah_pii_spark.core.scrub import A
from scrubah_pii_spark.operators.similarity import (
    _planes,
    cosine_expr,
    hyperplane_signature,
)


# --- core.hashing --------------------------------------------------------------


def simhash_bits(text: str) -> str:
    """64-char '0'/'1' string, bit i voted by ((hash >> (i % 32)) & 1)."""
    words = [w for w in _WS_RE.split(normalize_for_hashing(text)) if len(w) > 2]
    votes = [0] * 64
    for w in words:
        h = js_string_hash32(w)  # signed int32; >> sign-extends like JS
        for i in range(64):
            votes[i] += 1 if (h >> (i % 32)) & 1 else -1
    return "".join("1" if v > 0 else "0" for v in votes)


_NUM_RE = re.compile(r"\d+")


def normalize_for_fingerprint(
    text: str,
    normalize_whitespace: bool = True,
    lowercase: bool = True,
    strip_numbers: bool = False,
) -> str:
    t = text
    if normalize_whitespace:
        t = _WS_RE.sub(" ", t).strip()
    if lowercase:
        t = t.lower()
    if strip_numbers:
        t = _NUM_RE.sub("#", t)
    return t


def extract_ngrams(lines: list, min_size: int = 2, max_size: int = 5) -> list:
    """[(hash, ngram_size, line_start)] over consecutive line windows; windows
    whose normalized content has <10 non-whitespace chars are skipped."""
    out = []
    norm = [normalize_for_fingerprint(l) for l in lines]
    for size in range(min_size, max_size + 1):
        for i in range(0, len(lines) - size + 1):
            content = "\n".join(norm[i : i + size])
            if len(_WS_RE.sub("", content)) < 10:
                continue
            out.append((fnv1a64_hex(content), size, i))
    return out


# --- core.scrub ----------------------------------------------------------------


_LEAK_PATTERNS = (
    re.compile(r"\b\d{3}[-.]?\d{3}[-.]?\d{4}\b", A),                      # phone
    re.compile(r"\b\d{3}-\d{2}-\d{4}\b", A),                              # SSN
    re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b", A),  # email
    re.compile(r"\b\d{5}(?:-\d{4})?\b", A),                               # zip
)


def might_contain_pii(text: str) -> bool:
    """Heuristic leak detector run as a validation stage before any sink."""
    return any(p.search(text) for p in _LEAK_PATTERNS)


# --- operators.clustering / operators.similarity --------------------------------


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """(node, cluster_id) with cluster_id = min node id in the component.
    Input: undirected edge list. Star-contraction via min-neighbor
    propagation until fixpoint."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for round_i in range(max_iter):
        # (1) propagate the min component label across edges
        nbr = (
            edges.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # (2) pointer jumping: comp(node) <- comp(comp(node)) — path
        # compression makes convergence O(log diameter) instead of O(diameter)
        parent = labels.select(
            F.col("node").alias("comp"), F.col("comp").alias("grand")
        )
        new_labels = (
            labels.join(nbr, "node", "left")
            .join(parent, "comp", "left")
            .withColumn(
                "new_comp",
                F.least(
                    F.col("comp"),
                    F.coalesce(F.col("nbr_comp"), F.col("comp")),
                    F.coalesce(F.col("grand"), F.col("comp")),
                ),
            )
            .select("node", F.col("new_comp").alias("comp"))
        )
        # truncate lineage every 2nd round (checkpoint itself costs a job;
        # 2 rounds of joins keep the plan small enough for Catalyst)
        if round_i % 2 == 1 or round_i == max_iter - 1:
            labels_new = new_labels.localCheckpoint(eager=True)
        else:
            labels_new = new_labels
        # convergence check every other round: the check itself costs a join
        # + action, and pointer-jumping rarely converges in round 1
        if round_i % 2 == 1 or round_i == max_iter - 1:
            changed = (
                labels_new.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .limit(1)
                .count()
            )
            labels = labels_new
            if changed == 0:
                break
        else:
            labels = labels_new
    return labels.select(F.col("node"), F.col("comp").alias("cluster_id"))


def cosine_pairs(
    corpus: DataFrame, threshold: float = 0.85,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 6, seed: int = 42, exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """All pairs with cosine >= threshold. exact=True does the full self-join
    (test/oracle scale only); default buckets by hyperplane signature first.
    Pass `dim` explicitly to avoid a driver-side .first() probe job.
    Tier labels per the reference: duplicate >=0.95, similar >=0.85,
    related >=0.5."""
    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if not exact:
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        planes = _planes(dim, n_planes, seed)
        c = c.withColumn("_sig", hyperplane_signature(F.col("_v"), planes))
        join_cond = (F.col("a._sig") == F.col("b._sig")) & (F.col("a._id") < F.col("b._id"))
    else:
        join_cond = F.col("a._id") < F.col("b._id")
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(b, join_cond).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        cosine_expr(F.col("a._v"), F.col("b._v")).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold).withColumn(
        "tier",
        F.when(F.col("cosine") >= 0.95, "duplicate")
        .when(F.col("cosine") >= 0.85, "similar")
        .otherwise("related"),
    )


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours per query (queries broadcast)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn("cosine", cosine_expr(F.col("_qvec"), F.col("_cvec")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --- operators.template --------------------------------------------------------


def reconstruct_ngram_documents(
    stripped: DataFrame, corpus: DataFrame, url_col: str = "url",
    out_col: str = "reconstructed",
) -> DataFrame:
    """Inverse of strip_ngram_templates (templateDetection.effect.ts:450-488):
    re-insert each referenced template's ORIGINAL lines at line_start and
    merge with unique_lines by line number. Pure DataFrame ops: explode refs,
    broadcast-join the corpus, union, sort_array-rebuild per doc."""
    refs = stripped.select(
        F.col(url_col).alias("_u"), F.explode("template_refs").alias("r")
    )
    tpl = corpus.select("template_id", F.col("content").alias("_tcontent"))
    tlines = (
        refs.join(F.broadcast(tpl), refs["r.template_id"] == tpl["template_id"])
        .select("_u", F.col("r.line_start").alias("_ls"), F.split("_tcontent", "\n").alias("_tl"))
        .select("_u", "_ls", F.posexplode("_tl").alias("_i", "line"))
        .select("_u", (F.col("_ls") + F.col("_i")).alias("pos"), "line")
    )
    ulines = stripped.select(
        F.col(url_col).alias("_u"), F.explode("unique_lines").alias("ul")
    ).select("_u", F.col("ul.pos").alias("pos"), F.col("ul.line").alias("line"))
    rebuilt = (
        tlines.unionByName(ulines)
        .groupBy("_u")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "line"))).alias("_ordered"))
        .select(
            F.col("_u").alias(url_col),
            F.concat_ws(
                "\n", F.transform("_ordered", lambda s: s.getField("line"))
            ).alias(out_col),
        )
    )
    return stripped.join(rebuilt, url_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(""))
    )


# --- media fixture writers -----------------------------------------------------


def encode_pgm(pixels: bytes, width: int, height: int, maxval: int = 255) -> bytes:
    if len(pixels) != width * height:
        raise ValueError("pixel buffer size mismatch")
    return f"P5\n{width} {height}\n{maxval}\n".encode("ascii") + pixels


def encode_png_palette(
    indices: bytes, width: int, height: int, palette: bytes, depth: int = 8
) -> bytes:
    """Palette (colour type 3) writer: indices = w*h palette indices,
    palette = packed RGB bytes, depth in {1,2,4,8} (indices are bit-packed
    per scanline for depth < 8)."""
    if depth not in (1, 2, 4, 8):
        raise ValueError("palette depth must be 1, 2, 4 or 8")
    n_colors = len(palette) // 3
    if len(palette) != n_colors * 3 or not (1 <= n_colors <= 256):
        raise ValueError("palette must be 3*n bytes, 1 <= n <= 256")
    if len(indices) != width * height:
        raise ValueError("index buffer size mismatch")
    if max(indices) >= min(n_colors, 1 << depth):
        raise ValueError("index out of range for palette/depth")
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    raw = bytearray()
    per_byte = 8 // depth
    for y in range(height):
        raw.append(0)
        row = indices[y * width : (y + 1) * width]
        if depth == 8:
            raw += row
        else:
            for i in range(0, width, per_byte):
                b = 0
                for j, v in enumerate(row[i : i + per_byte]):
                    b |= v << (8 - depth * (j + 1))
                raw.append(b)
    return (
        PNG_SIG
        + _crc_chunk(b"IHDR", ihdr)
        + _crc_chunk(b"PLTE", palette)
        + _crc_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _crc_chunk(b"IEND", b"")
    )
