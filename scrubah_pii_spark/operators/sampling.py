"""Corpus-shaping operators a web-scale training-data pipeline needs and the
reference app (a per-user browser tool) never had to: per-host document caps,
cross-document duplicate-span removal, C4-style span dedup, and quota
downsampling. All are first-class quality-filter stages in public CC
pipelines (CCNet, C4, RefinedWeb, Gopher/MassiveText rules) and all are
built to survive the two classic 100 TB failure modes: host/key skew and
hot-n-gram fan-out.

host_cap_topn — keep the best N documents per host. A single
row_number() window over host is correct but funnels every document of a
mega-host (the exact skew the north rule calls out) through one task. The
production path is the standard two-phase top-N:
  phase 1: window over (host, salt) — salt = pmod(xxhash64(id), B) — keeps
           at most N rows per salt bucket, bounding any task at
           corpus/B-ish rows regardless of skew;
  phase 2: window over host on the <= N*B survivors per host.
Any global top-N row survives its salt bucket's local top-N (same total
order), so phase-2 output equals the single-window plan — the DuckDB oracle
IS the single-window form, re-proving the rewrite every round.

dup_span_strip — remove word n-gram spans that occur in >= min_df distinct
documents (the n-gram-granular form of exact-substring dedup, Lee et al.
2022 "Deduplicating Training Data Makes Language Models Better"). Shape:
explode n-gram starts -> doc-frequency per gram (map-side-combinable
distinct count) -> join back the frequent grams only -> per-doc covered-word
mask evaluated with array expressions (no second explode), linear via an
array_except hash-difference of positions (O(words + starts) per doc even
when every gram is frequent). The gram join shuffles on the gram string;
the frequent-gram side is tiny by construction (df >= min_df collapses it)
so AQE broadcasts it at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def host_cap_topn(
    df: DataFrame,
    host_col: str,
    order_cols: list,
    n: int,
    salt_buckets: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Skew-safe top-N per host. order_cols: list of Column expressions
    defining a TOTAL order (callers must include a unique tiebreaker so
    phase-2 ranks are deterministic). Adds a `rank` column (1..N within
    host in that order)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(host_col, "_salt").orderBy(*order_cols)
    local = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= n)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(host_col).orderBy(*order_cols)
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= n)
    )


def dup_span_strip(df: DataFrame, n: int = 3, min_df: int = 5) -> DataFrame:
    """Strip every word of (doc_id, text) rows covered by an n-gram that
    appears in >= min_df distinct documents. Returns doc_id plus
    cleaned_text / n_words_kept / n_words_dropped; cleaned_text is NULL when
    every word is dropped, as in the DuckDB oracle, whose
    array_to_string([]) is NULL. Word = split on single space (corpus
    contract).
    NULL text is treated as '' — without the coalesce, split(NULL) gives a
    NULL array whose size is -1 under legacy sizeOfNull, and
    sequence(0, -2) silently produces the DESCENDING [0,-1,-2]."""
    words = df.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ws"),
    )
    n_grams = F.greatest(F.size("ws") - (n - 1), F.lit(0))
    # sequence(0, -1) would produce a DESCENDING [0, -1] for docs shorter
    # than n words — guard with when() so short docs yield zero grams.
    start_idx = F.when(
        n_grams > 0, F.sequence(F.lit(0), n_grams - 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                start_idx,
                lambda i: F.array_join(F.slice("ws", i + 1, n), " "),
            )
        ).alias("i", "gram"),
    )
    frequent = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gram")
    )
    starts = (
        grams.join(frequent, "gram")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
    )
    joined = words.join(starts, "doc_id", "left").withColumn(
        "starts", F.coalesce("starts", F.array().cast("array<int>"))
    )
    # Linear coverage mask, O(words + starts): expand each start into its
    # n covered positions (a <= 3x-starts multiset — no interval merge
    # needed), then array_except's hash-set difference yields the kept
    # positions in document order. The former per-position exists() over
    # the starts array was O(words x starts) — quadratic per doc exactly
    # when most grams are frequent (boilerplate pages at 100 TB).
    covered = F.flatten(
        F.transform("starts", lambda i: F.sequence(i, i + (n - 1)))
    )
    kept = F.array_except(F.sequence(F.lit(0), F.size("ws") - 1), covered)
    out = joined.select(
        "doc_id",
        F.when(
            F.size(kept) > 0,
            F.array_join(
                F.transform(kept, lambda p: F.element_at("ws", p + 1)), " "
            ),
        ).alias("cleaned_text"),
        F.size(kept).alias("n_words_kept"),
        (F.size("ws") - F.size(kept)).alias("n_words_dropped"),
    )
    return out


def chunk_dedup(df: DataFrame, chunk_words: int = 5) -> DataFrame:
    """C4-style cross-document span dedup over (doc_id, text) rows at fixed
    word-chunk granularity: the corpus keeps exactly ONE occurrence of every
    distinct chunk — the globally first one in (doc_id, chunk_pos) order —
    and every later occurrence is dropped from its document. (C4 does this at the
    line/3-sentence level; webtext here is single-line, so the unit is a
    fixed chunk_words-word window — the splitter is the only thing that
    would change in production.)

    Scale shape: NO window over the chunk string (a hot chunk — boilerplate,
    empty lines — would funnel through one task). Instead
    groupBy(chunk).agg(min(struct(doc_id, pos))) is map-side combinable,
    and the kept set IS that aggregate's output — one row per distinct
    chunk, no join back to the exploded units at all. One shuffle on the
    chunk, one on the doc id for reconstruction.

    Returns doc_id, cleaned_text, n_chunks_kept, n_chunks_dropped (docs
    whose every chunk was dropped keep an empty cleaned_text row)."""
    n_chunks = F.ceil(F.size("ws") / F.lit(chunk_words)).cast("int")
    # NULL text -> '' so size(ws) is 1, never the legacy -1 that would feed
    # sequence(0, -2) a descending range (same guard as dup_span_strip).
    chunks = (
        df.select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("ws"),
        )
        .select(
            "doc_id",
            "ws",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("ws", i * chunk_words + 1, chunk_words), " "
                    ),
                )
            ).alias("pos", "chunk"),
        )
        .drop("ws")
    )
    first = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("f")
    )
    kept = first.select(
        F.col("f.doc_id").alias("doc_id"),
        F.col("f.pos").alias("pos"),
        "chunk",
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.count("*").alias("n_chunks_kept"),
    )
    totals = df.select(
        "doc_id",
        F.ceil(
            F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
            / F.lit(chunk_words)
        ).cast("long").alias("n_chunks"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_chunks_kept", F.lit(0)).cast("long").alias("n_chunks_kept"),
        (F.col("n_chunks") - F.coalesce("n_chunks_kept", F.lit(0)))
        .cast("long")
        .alias("n_chunks_dropped"),
    )


# LCG constants (glibc) for the portable sampling hash — any engine can
# reproduce h with plain BIGINT arithmetic, so the DuckDB oracle shares the
# exact keep/drop decision bit-for-bit.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2^31


def sample_hash(id_col) -> "F.Column":
    """Deterministic uniform-ish hash in [0, 2^31) from a BIGINT id using
    one LCG step. (id % M) first so id * A stays far below int64 overflow
    even at 10^12-row ids."""
    return F.pmod(
        F.pmod(F.col(id_col), F.lit(_LCG_M)) * F.lit(_LCG_A) + F.lit(_LCG_C),
        F.lit(_LCG_M),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Downsample over-represented strata (language, host) to ~cap docs
    each: keep a doc iff hash/M < cap/stratum_count. The pure-integer form
    h * count < cap * M overflows int64 once a stratum exceeds ~2^32 rows
    (h < 2^31, so the product passes 2^63 and Spark's non-ANSI arithmetic
    wraps silently) — exactly the 100 TB regime this module targets. The
    predicate is therefore evaluated product-free as
        h <= (cap * M - 1) div count
    which is the same integer condition (h*n < C  <=>  h <= (C-1) div n for
    n >= 1, h >= 0), exact, no floats, reproducible by any engine, and safe
    for any stratum size. Strata at or under the cap are kept whole (expected kept count
    for larger strata is cap; the per-doc decision is deterministic, which
    is the property a resumable 100 TB pipeline needs — re-runs and
    backfills keep the SAME docs).

    Scale shape: counts are one map-side-combinable aggregate over the
    stratum key; the counts table (one row per stratum) broadcasts back, so
    the only shuffle is the count agg itself."""
    from pyspark.sql.functions import broadcast

    if cap < 1 or cap >= (2**63 - 1) // _LCG_M:
        # cap=0 must not reach the div predicate: _c would be -1 and Spark's
        # truncating `div` gives -1 div n = 0, keeping docs whose hash is
        # exactly 0 instead of none. A zero quota is a caller bug, not a
        # sampling request — reject it like the negative/overflow cases.
        raise ValueError(f"cap={cap} out of range: need 1 <= cap, cap * 2^31 < int64 max")
    # largest hash value kept for a stratum of size n is (cap*M - 1) div n;
    # `div` is Spark SQL integer division — no h*n product, no overflow.
    _c = cap * _LCG_M - 1
    counts = df.groupBy(stratum_col).agg(F.count("*").alias("_n"))
    return (
        df.join(broadcast(counts), stratum_col)
        .where(sample_hash(id_col) <= F.expr(f"{_c} div _n"))
        .drop("_n")
    )
