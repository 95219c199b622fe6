"""Document clustering: connected components over LSH-bucketed cosine pairs.

Reference semantics: semanticDedup.effect.ts:278-417 (Union-Find over pairs
>= 0.85). Representative selection (:422-497) is not ported.

Spark-first how: pairs require equal hyperplane signatures, so components
never span buckets and Union-Find runs per bucket after one shuffle
(lsh_semantic_clusters). The generic iterative star-contraction
(connected_components in tests/engine_reference.py) is the reference it is
checked against. The signature stage, the numpy cosine block and the exact
fold that keeps it bit-identical to the oracle are similarity.py's
(signature_stage, gram_cos, fold_cos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .similarity import fold_cos, gram_cos, signature_stage


def lsh_semantic_clusters(
    emb: DataFrame, threshold: float = 0.3, n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """(node, cluster_id) over (vec_id, embedding) rows for LSH-bucketed
    cosine pairs — the scale path for semantic clustering.

    Key structural fact: every vector has exactly ONE hyperplane signature,
    and pairs require equal signatures — so the similarity graph is a
    disjoint union of per-bucket graphs and components NEVER span buckets.
    Connected components therefore needs NO global iteration: one shuffle on
    the signature key, then an in-bucket union-find per group (buckets are
    small by construction; add planes to shrink them). This replaces the
    O(log n)-round star-contraction loop (~30 s of stage overhead at sf0.1)
    with a single applyInPandas stage (~2 s).

    Parity: signatures and cosines use the same sequential double fold as
    the Spark expression / DuckDB oracle (bit-identical thresholds). Output
    matches connected_components() over cosine_pairs(exact=False), both in
    tests/engine_reference.py, exactly: only nodes with >= 1 edge appear;
    cluster_id = min node id."""

    def cluster_bucket(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].tolist()
        vecs = [list(v) for v in pdf["embedding"]]
        n = len(ids)
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        # numpy gram matrix for the O(n^2) candidate scan (a hot bucket of
        # 10k vectors is ~50M pure-Python folds otherwise — a multi-minute
        # straggler); pairs within 1e-9 of the threshold are re-decided with
        # fold_cos, keeping bit-parity with the expression path / DuckDB
        # oracle.
        has_edge = [False] * n
        if n >= 2:
            V = np.array(vecs, dtype=np.float64)
            C = gram_cos(V, V)
            iu, ju = np.triu_indices(n, k=1)
            cos = C[iu, ju]
            cand = cos >= threshold - 1e-9
            for i, j, c in zip(iu[cand], ju[cand], cos[cand]):
                if abs(c - threshold) < 1e-9:
                    c = fold_cos(vecs[i], vecs[j])
                if c < threshold:
                    continue
                has_edge[i] = has_edge[j] = True
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[ri] = rj
        comp_min = {}
        for i in range(n):
            if has_edge[i]:
                r = find(i)
                comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
        rows = [
            (ids[i], comp_min[find(i)]) for i in range(n) if has_edge[i]
        ]
        return pd.DataFrame(rows, columns=["node", "cluster_id"])

    with_sig = signature_stage(emb, "vec_id", dim, n_planes)
    # explicit-width repartition: Python-heavy group kernel over few bytes —
    # AQE's byte-based coalescing must not serialize it (see
    # similarity.block_pairs)
    n_parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return with_sig.repartition(n_parts, "_sig").groupBy("_sig").applyInPandas(
        cluster_bucket, schema="node bigint, cluster_id bigint"
    )
