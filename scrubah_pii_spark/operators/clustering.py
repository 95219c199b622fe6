"""Document clustering: connected components over similarity pairs +
representative selection.

Reference semantics: semanticDedup.effect.ts:278-417 (Union-Find over pairs
>= 0.85) and :422-497 (representative score = 0.3*lenNorm + 0.2*recency +
0.3*quality + 0.2*min(medDensity/20, 1), argmax per cluster).

Spark-first how: Union-Find is sequential; the distributed equivalent is
alternating large-star/small-star iterations (Kiveris et al., "Connected
Components in MapReduce and Beyond") expressed as DataFrame joins — converges
in O(log n) rounds; each round is one shuffle on the node key. Representative
selection is a window argmax per cluster_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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


def lsh_semantic_clusters(
    emb: DataFrame, threshold: float = 0.3, n_planes: int = 6,
    dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(node, cluster_id) for LSH-bucketed cosine pairs — the scale path for
    semantic clustering.

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
    matches connected_components() over cosine_pairs(exact=False) exactly:
    only nodes with >= 1 edge appear; cluster_id = min node id."""
    from .similarity import _planes

    planes = [[float(x) for x in p] for p in _planes(dim, n_planes, seed)]

    def _fold_dot(a, b):
        s = 0.0
        for k in range(len(a)):
            s += float(a[k]) * float(b[k])
        return s

    def cluster_bucket(pdf):
        import math

        import numpy as np
        import pandas as pd

        ids = pdf[id_col].tolist()
        vecs = [list(v) for v in pdf[vec_col]]
        n = len(ids)
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        def _exact_cos(a, b):
            na, nb = math.sqrt(_fold_dot(a, a)), math.sqrt(_fold_dot(b, b))
            d = na * nb
            return _fold_dot(a, b) / d if d > 0 else 0.0

        # numpy gram matrix for the O(n^2) candidate scan (a hot bucket of
        # 10k vectors is ~50M pure-Python folds otherwise — a multi-minute
        # straggler); pairs within 1e-9 of the threshold are re-decided with
        # the exact sequential fold, keeping bit-parity with the expression
        # path / DuckDB oracle (same pattern as lsh_cosine_pairs_fast).
        has_edge = [False] * n
        if n >= 2:
            V = np.array(vecs, dtype=np.float64)
            norms_v = np.sqrt((V * V).sum(axis=1))
            denom = np.outer(norms_v, norms_v)
            with np.errstate(divide="ignore", invalid="ignore"):
                C = np.where(denom > 0, (V @ V.T) / denom, 0.0)
            iu, ju = np.triu_indices(n, k=1)
            cos = C[iu, ju]
            cand = cos >= threshold - 1e-9
            for i, j, c in zip(iu[cand], ju[cand], cos[cand]):
                if abs(c - threshold) < 1e-9:
                    c = _exact_cos(vecs[i], vecs[j])
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

    def add_sig(iterator):
        import numpy as np

        P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
        for pdf in iterator:
            vecs = [list(v) for v in pdf[vec_col]]
            if vecs:
                V = np.array(vecs, dtype=np.float64)
                D = V @ P
                # numpy dot vs sequential fold differ ~1e-16: re-decide the
                # rare sign-boundary entries with the exact fold (same
                # refinement as lsh_cosine_pairs_fast.add_sig)
                for r, c in np.argwhere(np.abs(D) < 1e-9):
                    D[r, c] = _fold_dot(vecs[r], planes[c])
                sigs = ["".join(row) for row in np.where(D >= 0, "1", "0")]
            else:
                sigs = []
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["_sig"] = sigs
            yield pdf

    sig_schema = f"{id_col} bigint, {vec_col} array<float>, _sig string"
    with_sig = emb.select(id_col, vec_col).mapInPandas(add_sig, schema=sig_schema)
    # explicit-width repartition: Python-heavy group kernel over few bytes —
    # AQE's byte-based coalescing must not serialize it (see similarity.py)
    n_parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return with_sig.repartition(n_parts, "_sig").groupBy("_sig").applyInPandas(
        cluster_bucket, schema="node bigint, cluster_id bigint"
    )


def select_representatives(
    docs: DataFrame, clusters: DataFrame, id_col: str, score_col: str = "rep_score"
) -> DataFrame:
    """Join docs to cluster ids; argmax score per cluster via row_number."""
    joined = docs.join(
        clusters.withColumnRenamed("node", id_col), id_col, "left"
    ).withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )  # singletons form their own cluster
    w = Window.partitionBy("cluster_id").orderBy(F.desc(score_col), F.asc(id_col))
    return joined.withColumn("is_representative", F.row_number().over(w) == 1)
