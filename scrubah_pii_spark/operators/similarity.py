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
The exact baselines these are checked against (brute_force_topk, the
expression-fold cosine_pairs) live in tests/engine_reference.py.
"""

from __future__ import annotations

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


def _planes(dim: int, n_planes: int, seed: int = 42) -> list:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_signature(vec: Column, planes: list) -> Column:
    """Bit-signature: sign of dot(vec, plane_i) per plane — native exprs."""
    bits = []
    for plane in planes:
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.when(_dot(vec, arr) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame, queries: DataFrame, k: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 8, *, dim: int, seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact ranking within the query's hyperplane bucket.
    2^n_planes buckets; recall tunable via n_planes (fewer planes = bigger
    buckets = higher recall & cost). `dim` is required — no driver-side data
    probe ever runs inside an operator."""
    planes = _planes(dim, n_planes, seed)
    c = corpus.withColumn("_sig", hyperplane_signature(F.col(vec_col), planes)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"), "_sig"
    )
    q = queries.withColumn("_sig", hyperplane_signature(F.col(vec_col), planes)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"), "_sig"
    )
    joined = c.join(F.broadcast(q), "_sig").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn("cosine", cosine_expr(F.col("_qvec"), F.col("_cvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _centroid_assigner(centroids: list, id_col: str, vec_col: str):
    """Factory for the IVF assignment mapInPandas stage: per batch, one
    numpy gram matrix against the broadcast centroid block; rows whose
    selection-boundary gap is < 1e-9 are re-decided with the exact
    sequential fold (bit-parity with the expression/DuckDB arithmetic)."""
    import math

    import numpy as np
    import pandas as pd

    cent_ids = [int(j) for j, _ in centroids]
    cent_vecs = [[float(x) for x in v] for _, v in centroids]

    def _fold_dot(a, b):
        s = 0.0
        for i in range(len(a)):
            s += float(a[i]) * float(b[i])
        return s

    def _fold_cos(a, b):
        d = math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
        return _fold_dot(a, b) / d if d > 0 else 0.0

    def make(n_best: int):
        def run(batches):
            C = np.array(cent_vecs, dtype=np.float64)         # (m, d)
            cn = np.sqrt((C * C).sum(axis=1))                 # (m,)
            jorder = np.argsort(np.array(cent_ids), kind="stable")
            Cs, cns = C[jorder], cn[jorder]                   # j-ascending
            ids_sorted = [cent_ids[i] for i in jorder]
            m = len(ids_sorted)
            for pdf in batches:
                vecs = [list(v) for v in pdf[vec_col]]
                V = np.array(vecs, dtype=np.float64)          # (n, d)
                vn = np.sqrt((V * V).sum(axis=1))
                denom = np.outer(vn, cns)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, (V @ Cs.T) / denom, 0.0)
                cells = []
                for r in range(len(vecs)):
                    # stable argsort of -cos: ties keep j-ascending order
                    order = np.argsort(-cos[r], kind="stable")
                    if m > n_best:
                        gap = cos[r][order[n_best - 1]] - cos[r][order[n_best]]
                        if gap < 1e-9:
                            exact = [
                                _fold_cos(vecs[r], Cs[i].tolist())
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
                        "_id": pdf[id_col].astype("int64"),
                        "_vec": pdf[vec_col],
                        "_cells": cells,
                    }
                )

        return run

    return make


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    *, centroids: list, n_probe: int = 2,
) -> DataFrame:
    """IVF-Flat approximate top-k (the third ANN tier next to brute-force
    and hyperplane LSH): every corpus vector is assigned to its
    highest-cosine centroid cell (ties -> lowest centroid id), each query
    probes its `n_probe` best cells, and ranking is exact within probed
    cells.

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
    (rank n vs n+1) is < 1e-9 is re-decided with the exact sequential fold
    (same refinement pattern as lsh_cosine_pairs_fast)."""
    assign = _centroid_assigner(centroids, id_col, vec_col)
    out_schema = "_id long, _vec array<float>, _cells array<int>"

    c = corpus.select(id_col, vec_col).mapInPandas(
        assign(1), schema=out_schema
    ).select(
        F.col("_id").alias("neighbor_id"),
        F.col("_vec").alias("_cvec"),
        F.col("_cells")[0].alias("_cell"),
    )
    q = queries.select(id_col, vec_col).mapInPandas(
        assign(n_probe), schema=out_schema
    ).select(
        F.col("_id").alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.explode("_cells").alias("_cell"),
    )

    joined = c.join(F.broadcast(q), "_cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "cosine", cosine_expr(F.col("_qvec"), F.col("_cvec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_cosine_pairs_fast(
    corpus: DataFrame, threshold: float = 0.85,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int = 6, dim: int = 64, seed: int = 42,
) -> DataFrame:
    """cosine_pairs(exact=False) semantics at Arrow speed: one shuffle on the
    hyperplane signature, then per-bucket numpy float64 gram matrices instead
    of per-pair interpreted aggregate()/zip_with expression folds (~50x on
    1M-pair workloads).

    Bit-parity with the expression path / DuckDB oracle: numpy and the
    sequential fold differ by ~1e-16, which only matters at decision edges —
    any pair within 1e-9 of a threshold/tier boundary or within 1e-12 (cosine
    units) of a half-up 6-decimal rounding edge is RECOMPUTED with the exact
    sequential fold before deciding. Output cosine is pre-rounded half-up to
    6 decimals (what F.round would produce).
    """
    import math

    import numpy as np
    import pandas as pd

    planes = [[float(x) for x in p] for p in _planes(dim, n_planes, seed)]

    def _fold_dot(a, b):
        s = 0.0
        for k in range(len(a)):
            s += float(a[k]) * float(b[k])
        return s

    def _exact_cos(a, b):
        na, nb = math.sqrt(_fold_dot(a, a)), math.sqrt(_fold_dot(b, b))
        d = na * nb
        return _fold_dot(a, b) / d if d > 0 else 0.0

    P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)

    def add_sig(iterator):
        for pdf in iterator:
            vecs = [list(v) for v in pdf[vec_col]]
            if vecs:
                V = np.array(vecs, dtype=np.float64)      # (n, dim)
                D = V @ P                                 # (n, n_planes)
                # numpy dot vs the sequential fold differ ~1e-16; the sign
                # only flips when |dot| is at that scale — re-decide those
                # few entries with the exact fold (same refinement pattern
                # as decide() below), keeping bit-parity with the
                # expression/DuckDB arithmetic at ~50x less Python work.
                risky = np.argwhere(np.abs(D) < 1e-9)
                for r, c in risky:
                    D[r, c] = _fold_dot(vecs[r], planes[c])
                bits = np.where(D >= 0, "1", "0")
                sigs = ["".join(row) for row in bits]
            else:
                sigs = []
            out = pdf[[id_col, vec_col]].copy()
            out["_sig"] = sigs
            yield out

    boundaries = sorted({threshold, 0.85, 0.95})

    def _tier(c):
        return (
            "duplicate" if c >= 0.95
            else "similar" if c >= 0.85
            else "related"
        )

    # Block split (r8): one LSH bucket's pair work is otherwise a single
    # task, and real buckets are skewed (largest bucket = 45% of all pairs
    # at sf1.0; 5.6 s max task vs ~1 s median measured). Each bucket's rows
    # are hashed into `block_split` blocks and every unordered block pair
    # becomes its own applyInPandas group — B(B+1)/2 tasks per bucket, each
    # pair of vectors compared in exactly one task. Gram entries are the
    # same float64 dot/norm arithmetic regardless of which sub-matrix they
    # land in, and every decision-edge entry is re-decided with the exact
    # sequential fold, so the block decomposition cannot change output.
    block_split = 4

    def pair_block(key, pdf):
        ti, tj = int(key[1]), int(key[2])
        ids = pdf[id_col].to_numpy()
        blks = pdf["_blk"].to_numpy()
        vecs = [list(v) for v in pdf[vec_col]]
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
                c = _exact_cos(vecs[ri], vecs[rj])  # exact fold decides
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
            Ra, Rb = V[reps_a], V[reps_b]
            na = np.sqrt((Ra * Ra).sum(axis=1))
            nb = np.sqrt((Rb * Rb).sum(axis=1))
            denom = np.outer(na, nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, (Ra @ Rb.T) / denom, 0.0)
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
                    _exact_cos(vecs[reps_a[iu[k]]], vecs[reps_b[ju[k]]])
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

        if ti == tj:
            side = np.nonzero(blks == ti)[0]
            reps, members = collapse(side)
            # within-group pairs: one decision per group (multi-member
            # groups are rare on real corpora — loop is fine)
            for gi, mem in enumerate(members):
                if len(mem) < 2:
                    continue
                c = decide(_self_cos(V[reps[gi]]), reps[gi], reps[gi])
                if c is None:
                    continue
                m_arr = np.array(mem, dtype=np.int64)  # sorted -> a < b
                iu, ju = np.triu_indices(len(m_arr), k=1)
                col_a.append(m_arr[iu])
                col_b.append(m_arr[ju])
                col_c.append(np.full(len(iu), c))
                col_t.append(np.full(len(iu), _tier(c), dtype=object))
            emit_cross(reps, members, reps, members, upper_only=True)
        else:
            side_a = np.nonzero(blks == ti)[0]
            side_b = np.nonzero(blks == tj)[0]
            if len(side_a) and len(side_b):
                reps_a, members_a = collapse(side_a)
                reps_b, members_b = collapse(side_b)
                emit_cross(reps_a, members_a, reps_b, members_b,
                           upper_only=False)

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

    sig_schema = f"{id_col} long, {vec_col} array<float>, _sig string"
    with_sig = corpus.select(id_col, vec_col).mapInPandas(add_sig, schema=sig_schema)
    # Explicit-width repartition on (bucket, block pair): the per-block gram
    # + pair expansion is heavy Python over few shuffled bytes (50k vectors =
    # ~5 MB but 17M output pairs at sf1.0), so AQE's byte-based coalescing
    # collapsed the stage to 5 tasks (measured 15.7 s/task). REPARTITION_BY_NUM
    # is AQE-exempt and satisfies applyInPandas' clustering requirement.
    spark = corpus.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    tasks = (
        with_sig.withColumn(
            "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(block_split)).cast("int")
        )
        .withColumn(
            "_other", F.explode(F.array(*[F.lit(x) for x in range(block_split)]))
        )
        .withColumn("_ti", F.least("_blk", "_other"))
        .withColumn("_tj", F.greatest("_blk", "_other"))
        .drop("_other")
    )
    return (
        tasks.repartition(n_parts, "_sig", "_ti", "_tj")
        .groupBy("_sig", "_ti", "_tj")
        .applyInPandas(
            pair_block, schema="id_a long, id_b long, cosine double, tier string"
        )
    )
