"""Similarity search over embedding columns (array<float>).

Reference semantics: semanticDedup.effect.ts:231-273 — full O(n^2) cosine,
DUPLICATE >= 0.95 / SIMILAR >= 0.85 / RELATED >= 0.5. That is impossible at
10^12 docs, so:
  * lsh_bucketed_topk — scale path: random-hyperplane signatures bucket the
    corpus; candidates only within the query's bucket(s). Planes are
    deterministic (seeded); signature computed natively (no Python per row).
  * ivf_topk — centroid cells, exact ranking inside the probed cells.
  * lsh_cosine_pairs_fast — all-pairs >= threshold within LSH buckets
    (semantic dedup), numpy kernels per bucket block.
The pair kernels these share with clustering.lsh_semantic_clusters and
dedup's Jaccard bitmask are written once, here: the exact fold (fold_dot,
fold_cos), the numpy signature stage (signature_stage), the numpy cosine
block (gram_cos), the block-pair fan-out (block_pairs) and the per-query
ranking (rank_top_k). numpy float64 and the sequential fold of the Spark
expressions / DuckDB oracles differ by ~1e-16, so every numpy kernel
re-decides the few results that close to a decision edge with the fold;
that keeps them bit-identical to the oracles.
The exact baselines these are checked against (brute_force_topk, the
expression-fold cosine_pairs) live in tests/engine_reference.py.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import Column


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    d = _norm(a) * _norm(b)
    return F.when(d > 0, _dot(a, b) / d).otherwise(F.lit(0.0))


# Seed of the hyperplanes every LSH operator draws; the oracles in
# oracles_sql draw the same planes from it.
LSH_SEED = 42
# Planes of lsh_bucketed_topk: 2^8 buckets (oracles_sql.sql_lsh_ann_topk).
TOPK_N_PLANES = 8


def _planes(dim: int, n_planes: int, seed: int = LSH_SEED) -> list:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def fold_dot(a, b) -> float:
    """dot(a, b) as _dot computes it: one double product per element, added
    left to right."""
    s = 0.0
    for i in range(len(a)):
        s += float(a[i]) * float(b[i])
    return s


def fold_cos(a, b) -> float:
    """cosine_expr's arithmetic: fold_dot over the product of the fold norms,
    0.0 when a norm is 0."""
    d = math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
    return fold_dot(a, b) / d if d > 0 else 0.0


def gram_cos(A, B):
    """Cosine of every row of A with every row of B (float64 blocks): one
    matmul over the outer product of the norms, 0.0 where a norm is 0."""
    na = np.sqrt((A * A).sum(axis=1))
    nb = np.sqrt((B * B).sum(axis=1))
    denom = np.outer(na, nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, (A @ B.T) / denom, 0.0)


def signature_stage(df: DataFrame, id_col: str, dim: int, n_planes: int) -> DataFrame:
    """(id_col, embedding, _sig) rows: each vector's hyperplane signature over
    _planes(dim, n_planes) in one numpy mapInPandas stage. A sign can only
    differ from the sequential fold's when |dot| is ~1e-16, so entries under
    1e-9 are re-decided with fold_dot: the buckets stay those of the
    expression / DuckDB signature."""
    planes = [[float(x) for x in p] for p in _planes(dim, n_planes)]

    def add_sig(iterator):
        P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
        for pdf in iterator:
            vecs = [list(v) for v in pdf["embedding"]]
            if vecs:
                D = np.array(vecs, dtype=np.float64) @ P  # (n, n_planes)
                for r, c in np.argwhere(np.abs(D) < 1e-9):
                    D[r, c] = fold_dot(vecs[r], planes[c])
                sigs = ["".join(row) for row in np.where(D >= 0, "1", "0")]
            else:
                sigs = []
            out = pdf[[id_col, "embedding"]].copy()
            out["_sig"] = sigs
            yield out

    schema = f"{id_col} long, embedding array<float>, _sig string"
    return df.select(id_col, "embedding").mapInPandas(add_sig, schema=schema)


def block_pairs(
    df: DataFrame, id_col: str, blocks: int, keys: list, kernel, schema: str,
) -> DataFrame:
    """All-pairs work within each `keys` group, split into block pairs: rows
    hash into `blocks` blocks on xxhash64(id_col), and every unordered block
    pair is its own applyInPandas group — B(B+1)/2 tasks per key group, each
    pair of rows met in exactly one. A skewed group (the largest LSH bucket
    held 45% of all pairs at sf1.0) is no longer a single task.

    kernel(pdf, ii, jj) returns the task's rows of `schema`; ii and jj are the
    positions in pdf of its two blocks' rows. For a block paired with itself
    they are the same array, and the kernel pairs each row only with the
    rows after it.

    Explicit-width repartition on (keys, block pair): the kernels are heavy
    Python over few shuffled bytes (50k vectors = ~5 MB but 17M output pairs
    at sf1.0), so AQE's byte-based coalescing collapsed the stage to 5 tasks
    (measured 15.7 s/task). REPARTITION_BY_NUM is AQE-exempt and satisfies
    applyInPandas' clustering requirement."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    tasks = (
        df.withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int")
        )
        .withColumn("_other", F.explode(F.array(*[F.lit(x) for x in range(blocks)])))
        .withColumn("_ti", F.least("_blk", "_other"))
        .withColumn("_tj", F.greatest("_blk", "_other"))
        .drop("_other")
    )

    def run(key, pdf):
        ti, tj = int(key[-2]), int(key[-1])
        blks = pdf["_blk"].to_numpy()
        ii = np.nonzero(blks == ti)[0]
        return kernel(pdf, ii, ii if ti == tj else np.nonzero(blks == tj)[0])

    group = [*keys, "_ti", "_tj"]
    return tasks.repartition(n_parts, *group).groupBy(*group).applyInPandas(run, schema)


def rank_top_k(scored: DataFrame, k: int, neighbor_col: str) -> DataFrame:
    """The k best rows of each query_id by cosine desc, then neighbor_col
    asc, numbered 1..k in `rank`."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(neighbor_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _probe_top_k(c: DataFrame, q: DataFrame, key: str, k: int) -> DataFrame:
    """Exact top-k of each query among the corpus rows that share its `key`
    (bucket or cell): c holds (neighbor_id, _cvec, key), the broadcast q
    (query_id, _qvec, key); a query never matches itself."""
    joined = c.join(F.broadcast(q), key).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn("cosine", cosine_expr(F.col("_qvec"), F.col("_cvec")))
    return rank_top_k(scored, k, "neighbor_id").select(
        "query_id", "neighbor_id", "cosine", "rank"
    )


def hyperplane_signature(vec: Column, planes: list) -> Column:
    """Bit-signature: sign of dot(vec, plane_i) per plane — native exprs."""
    bits = []
    for plane in planes:
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.when(_dot(vec, arr) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame, queries: DataFrame, k: int, *, dim: int,
) -> DataFrame:
    """Approximate top-k over (vec_id, embedding) rows: exact ranking within
    the query's hyperplane bucket, 2^TOPK_N_PLANES buckets (fewer planes =
    bigger buckets = higher recall & cost). `dim` is required — no
    driver-side data probe ever runs inside an operator."""
    planes = _planes(dim, TOPK_N_PLANES)
    c = corpus.withColumn("_sig", hyperplane_signature(F.col("embedding"), planes)).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cvec"), "_sig"
    )
    q = queries.withColumn("_sig", hyperplane_signature(F.col("embedding"), planes)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"), "_sig"
    )
    return _probe_top_k(c, q, "_sig", k)


def _centroid_assigner(centroids: list):
    """Factory for the IVF assignment mapInPandas stage: per batch, one
    gram_cos block against the broadcast centroid block; rows whose
    selection-boundary gap is < 1e-9 are re-decided with fold_cos."""
    import pandas as pd

    cent_ids = [int(j) for j, _ in centroids]
    cent_vecs = [[float(x) for x in v] for _, v in centroids]

    def make(n_best: int):
        def run(batches):
            C = np.array(cent_vecs, dtype=np.float64)         # (m, d)
            jorder = np.argsort(np.array(cent_ids), kind="stable")
            Cs = C[jorder]                                    # j-ascending
            ids_sorted = [cent_ids[i] for i in jorder]
            m = len(ids_sorted)
            for pdf in batches:
                vecs = [list(v) for v in pdf["embedding"]]
                cos = gram_cos(np.array(vecs, dtype=np.float64), Cs)
                cells = []
                for r in range(len(vecs)):
                    # stable argsort of -cos: ties keep j-ascending order
                    order = np.argsort(-cos[r], kind="stable")
                    if m > n_best:
                        gap = cos[r][order[n_best - 1]] - cos[r][order[n_best]]
                        if gap < 1e-9:
                            exact = [
                                fold_cos(vecs[r], Cs[i].tolist())
                                for i in range(m)
                            ]
                            order = sorted(
                                range(m), key=lambda i: (-exact[i], i)
                            )
                    cells.append(
                        [int(ids_sorted[i]) for i in order[:n_best]]
                    )
                yield pd.DataFrame(
                    {
                        "_id": pdf["vec_id"].astype("int64"),
                        "_vec": pdf["embedding"],
                        "_cells": cells,
                    }
                )

        return run

    return make


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    *, centroids: list, n_probe: int = 2,
) -> DataFrame:
    """IVF-Flat approximate top-k over (vec_id, embedding) rows (the third
    ANN tier next to brute-force and hyperplane LSH): every corpus vector is
    assigned to its highest-cosine centroid cell (ties -> lowest centroid
    id), each query probes its `n_probe` best cells, and ranking is exact
    within probed cells.

    `centroids` is a list of (cell_id, vector) trained OFFLINE in production
    (k-means over a sample — the standard IVF recipe); tests/oracles use a
    deterministic smallest-id sample so DuckDB can mirror the assignment.

    Scale shape (the point of IVF at 10^12 docs): centroids are
    dimension-sized and broadcast inside an Arrow-batched numpy assignment
    stage (one gram matrix per batch — measured ~10x faster than the
    per-row expression fold for 16 centroids x 64 dims); the only shuffle
    keys on the SMALL int cell id; the query side is broadcast. Probing
    more cells trades cost for recall without touching the layout.

    Oracle bit-parity: numpy float64 dot differs from the sequential
    expression/DuckDB fold by ~1e-16, which only matters when the choice
    between two cells is that close — any row whose cut-boundary gap
    (rank n vs n+1) is < 1e-9 is re-decided with fold_cos."""
    assign = _centroid_assigner(centroids)
    out_schema = "_id long, _vec array<float>, _cells array<int>"

    c = corpus.select("vec_id", "embedding").mapInPandas(
        assign(1), schema=out_schema
    ).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_vec").alias("_cvec"),
        F.col("_cells")[0].alias("_cell"),
    )
    q = queries.select("vec_id", "embedding").mapInPandas(
        assign(n_probe), schema=out_schema
    ).select(
        F.col("_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.explode("_cells").alias("_cell"),
    )

    return _probe_top_k(c, q, "_cell", k)


def lsh_cosine_pairs_fast(
    corpus: DataFrame, threshold: float = 0.85, id_col: str = "vec_id",
    n_planes: int = 6, dim: int = 64,
) -> DataFrame:
    """cosine_pairs(exact=False) semantics over the embedding column, at
    Arrow speed: one shuffle on the hyperplane signature, then per-bucket
    numpy float64 gram matrices instead of per-pair interpreted
    aggregate()/zip_with expression folds (~50x on 1M-pair workloads).

    Bit-parity with the expression path / DuckDB oracle: numpy and the
    sequential fold differ by ~1e-16, which only matters at decision edges —
    any pair within 1e-9 of a threshold/tier boundary or within 1e-12 (cosine
    units) of a half-up 6-decimal rounding edge is RECOMPUTED with fold_cos
    before deciding. Output cosine is pre-rounded half-up to 6 decimals (what
    F.round would produce).
    """
    import pandas as pd

    boundaries = sorted({threshold, 0.85, 0.95})

    def _tier(c):
        return (
            "duplicate" if c >= 0.95
            else "similar" if c >= 0.85
            else "related"
        )

    # Each bucket's pair work is split over 4 x 4 block pairs (block_pairs):
    # real buckets are skewed (5.6 s max task vs ~1 s median measured at
    # sf1.0). Gram entries are the same float64 dot/norm arithmetic whichever
    # sub-matrix they land in, and every decision-edge entry is re-decided
    # with fold_cos, so the block decomposition cannot change output.

    def pair_block(pdf, ii, jj):
        ids = pdf[id_col].to_numpy()
        vecs = [list(v) for v in pdf["embedding"]]
        V = np.array(vecs, dtype=np.float64) if len(vecs) else np.zeros((0, 1))
        col_a, col_b, col_c, col_t = [], [], [], []

        def collapse(side_idx):
            """Identical embeddings collapse to one representative BEFORE
            the gram: a mega-cluster of identical docs (scrubbed
            boilerplate) must cost O(distinct), not O(members^2); identical
            rows produce identical gram entries, so parity is free."""
            groups: dict[bytes, list[int]] = {}
            for idx in side_idx:
                groups.setdefault(V[idx].tobytes(), []).append(idx)
            reps = [m[0] for m in groups.values()]
            members = [sorted(int(ids[i]) for i in m) for m in groups.values()]
            return reps, members

        def decide(c, ri, rj):
            """Boundary-aware final cosine for a rep pair, or None to drop.
            inf/NaN embeddings (corrupt upstream floats) drop the pair,
            matching the `cos >= threshold - 1e-9` prefilter behavior."""
            if not math.isfinite(c):
                return None
            near_boundary = any(abs(c - b) < 1e-9 for b in boundaries)
            frac = (c * 1e6) % 1.0
            near_round_edge = abs(frac - 0.5) < 1e-6
            if near_boundary or near_round_edge:
                c = fold_cos(vecs[ri], vecs[rj])  # exact fold decides
            if c < threshold:
                return None
            return math.floor(c * 1e6 + 0.5) / 1e6

        def emit_cross(reps_a, members_a, reps_b, members_b, upper_only):
            """All qualifying rep pairs between two group lists (the full
            rectangle, or the strict upper triangle when both sides are the
            same list). Decisions AND expansion are bucket-level numpy: a
            per-group-pair numpy rewrite measured 3x SLOWER than tuple
            appends on singleton-dominated buckets (r8 finding) — the bulk
            path must batch the whole block pair. Risky entries (near a
            tier/threshold boundary, near a 6-decimal rounding edge, or
            non-finite) are re-decided with the sequential fold."""
            ga, gb = len(reps_a), len(reps_b)
            if ga == 0 or gb == 0:
                return
            C = gram_cos(V[reps_a], V[reps_b])
            if upper_only:
                iu, ju = np.triu_indices(ga, k=1)
                cos = C[iu, ju]
            else:
                iu, ju = np.meshgrid(
                    np.arange(ga), np.arange(gb), indexing="ij"
                )
                iu, ju = iu.ravel(), ju.ravel()
                cos = C.ravel()
            cand = cos >= threshold - 1e-9
            iu, ju, cos = iu[cand], ju[cand], np.ascontiguousarray(cos[cand])
            finite = np.isfinite(cos)
            risky = ~finite
            safe_cos = np.where(finite, cos, 0.0)
            for b in boundaries:
                risky |= np.abs(safe_cos - b) < 1e-9
            frac = (safe_cos * 1e6) % 1.0
            risky |= np.abs(frac - 0.5) < 1e-6
            for k in np.nonzero(risky)[0]:
                cos[k] = (
                    fold_cos(vecs[reps_a[iu[k]]], vecs[reps_b[ju[k]]])
                    if math.isfinite(cos[k]) else np.nan
                )
            keep = np.isfinite(cos) & (cos >= threshold)
            iu, ju, cos = iu[keep], ju[keep], cos[keep]
            if len(iu) == 0:
                return
            rounded = np.floor(cos * 1e6 + 0.5) / 1e6
            tiers = np.where(
                rounded >= 0.95, "duplicate",
                np.where(rounded >= 0.85, "similar", "related"),
            ).astype(object)
            nmem_a = np.array([len(m) for m in members_a], dtype=np.int64)
            nmem_b = np.array([len(m) for m in members_b], dtype=np.int64)
            first_a = np.array([m[0] for m in members_a], dtype=np.int64)
            first_b = np.array([m[0] for m in members_b], dtype=np.int64)
            both_single = (nmem_a[iu] == 1) & (nmem_b[ju] == 1)
            a = first_a[iu[both_single]]
            b = first_b[ju[both_single]]
            col_a.append(np.minimum(a, b))
            col_b.append(np.maximum(a, b))
            col_c.append(rounded[both_single])
            col_t.append(tiers[both_single])
            # rare path: pairs touching a multi-member group expand m*n ways
            for k in np.nonzero(~both_single)[0]:
                ma = np.array(members_a[iu[k]], dtype=np.int64)
                mb = np.array(members_b[ju[k]], dtype=np.int64)
                aa = np.repeat(ma, len(mb))
                bb = np.tile(mb, len(ma))
                col_a.append(np.minimum(aa, bb))
                col_b.append(np.maximum(aa, bb))
                col_c.append(np.full(len(aa), rounded[k]))
                col_t.append(np.full(len(aa), tiers[k], dtype=object))

        reps_a, members_a = collapse(ii)
        if ii is jj:
            reps_b, members_b = reps_a, members_a
            # within-group pairs: one decision per group (multi-member
            # groups are rare on real corpora — loop is fine)
            for gi, mem in enumerate(members_a):
                if len(mem) < 2:
                    continue
                c = decide(_self_cos(V[reps_a[gi]]), reps_a[gi], reps_a[gi])
                if c is None:
                    continue
                m_arr = np.array(mem, dtype=np.int64)  # sorted -> a < b
                iu, ju = np.triu_indices(len(m_arr), k=1)
                col_a.append(m_arr[iu])
                col_b.append(m_arr[ju])
                col_c.append(np.full(len(iu), c))
                col_t.append(np.full(len(iu), _tier(c), dtype=object))
        else:
            reps_b, members_b = collapse(jj)
        emit_cross(reps_a, members_a, reps_b, members_b, upper_only=ii is jj)

        if not col_a:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine", "tier"])
        return pd.DataFrame({
            "id_a": np.concatenate(col_a),
            "id_b": np.concatenate(col_b),
            "cosine": np.concatenate(col_c),
            "tier": np.concatenate(col_t),
        })

    def _self_cos(v):
        """Diagonal gram entry exactly as the full-matrix path computed it:
        dot(v,v)/(|v||v|) in float64 (0.0 for the zero vector)."""
        d = float(np.dot(v, v))
        n2 = math.sqrt(d) * math.sqrt(d)
        return d / n2 if n2 > 0 else 0.0

    return block_pairs(
        signature_stage(corpus, id_col, dim, n_planes), id_col, 4, ["_sig"],
        pair_block, "id_a long, id_b long, cosine double, tier string",
    )
