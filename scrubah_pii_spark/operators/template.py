"""Template/boilerplate detection and stripping.

Two tiers, mirroring the reference:
  1. line-frequency templates (production cheap path):
     compressionPipeline.effect.ts:141-183 — trimmed lines >= 20 chars counted
     once per doc; template iff present in >= max(2, floor(50% * docs)).
     Detection only: no query strips these lines.
  2. FNV-1a n-gram corpus (full path): templateDetection.effect.ts:143-312 —
     2..5-line n-gram windows, normalized, FNV-1a-64 hashed; template iff
     distinct-doc count >= max(min_docs, 30% * docs).

Spark shape: explode lines -> hash/group (map-side partial agg) -> tiny corpus
DataFrame -> broadcast hash-join back -> array ops rebuild the stripped text.
The corpus is dimension-sized at any corpus scale (frequency threshold is a
fraction of docs), so the join side is always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scrub_op import fnv1a64_udf


def _lines(df: DataFrame, text_col: str, url_col: str) -> DataFrame:
    return df.select(
        F.col(url_col).alias("_url"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("trimmed", F.trim("line"))


def line_frequency_templates(
    df: DataFrame, text_col: str, url_col: str = "url",
    min_len: int = 20, frac: float = 0.5, min_docs: int = 2,
) -> DataFrame:
    """The template-line dimension table: (trimmed, doc_count).

    The doc count rides the plan as a broadcast 1-row aggregate instead of a
    driver count() (guide §1.4/§5.2): one action fewer per consumer, and the
    corpus scan overlaps the line stages inside the same job. `int(n * frac)`
    == floor(n * frac) for the non-negative product, so the in-plan threshold
    is the same integer the collected one was.

    Because the doc count rides the returned lazy plan, every action on the
    result re-scans df; a consumer that runs several actions on it should
    persist it first."""
    scalars = df.agg(F.count("*").alias("_docs"))
    threshold = F.greatest(
        F.lit(min_docs).cast("long"),
        F.floor(F.col("_docs") * F.lit(float(frac))),
    )
    return (
        _lines(df, text_col, url_col)
        .filter(F.length("trimmed") >= min_len)
        .dropDuplicates(["_url", "trimmed"])
        .groupBy("trimmed")
        .agg(F.count("*").alias("doc_count"))
        .crossJoin(F.broadcast(scalars))
        .filter(F.col("doc_count") >= threshold)
        .drop("_docs")
    )


def _doc_ngrams(
    df: DataFrame, text_col: str, url_col: str,
    min_size: int = 2, max_size: int = 5,
) -> DataFrame:
    """Per-document n-gram fingerprints: (_url, ngram_size, pos, content
    [normalized, hash input], orig [original lines]). Mirrors
    templateDetection.ts extractNGrams :306-335 — windows whose normalized
    content has <10 non-ws chars are skipped.

    Round 8: pure row-local ARRAY assembly — each doc's line array is split
    once and every n-gram is a slice of it, so there is NO shuffle at all.
    The previous shape (posexplode -> Window.partitionBy(url) with
    2*(max_size-1) lead() columns) paid a full exchange of wide lead-rows
    (266 MB at sf1.0) plus a per-doc sort just to reassemble adjacency that
    the line array already encodes."""
    lines_arr = F.split(F.col(text_col), "\n")
    sel = df.select(
        F.col(url_col).alias("_url"),
        lines_arr.alias("_la"),
        F.transform(
            lines_arr,
            lambda l: F.lower(F.trim(F.regexp_replace(l, r"\s+", " "))),
        ).alias("_na"),
    )
    n = F.size("_la")

    def _gram_builder(size):
        # one-arg closure, NOT a defaulted second lambda param: F.transform
        # dispatches on lambda arity and would pass the ARRAY INDEX as the
        # second argument, clobbering the default
        def build(i):
            return F.struct(
                F.lit(size).alias("ngram_size"),
                F.concat_ws("\n", F.slice("_na", i + 1, size)).alias("content"),
                F.concat_ws("\n", F.slice("_la", i + 1, size)).alias("orig"),
                i.alias("pos"),
            )

        return build

    gram_arrays = []
    for size in range(min_size, max_size + 1):
        starts = F.when(n >= size, F.sequence(F.lit(0), n - size)).otherwise(
            F.array().cast("array<int>")
        )
        gram_arrays.append(F.transform(starts, _gram_builder(size)))
    all_grams = (
        sel.select("_url", F.explode(F.flatten(F.array(*gram_arrays))).alias("g"))
        .select("_url", "g.ngram_size", "g.content", "g.orig", "g.pos")
        .filter(F.length(F.regexp_replace("content", r"\s", "")) >= 10)
    )
    return all_grams.withColumn("hash", fnv1a64_udf("content"))


def ngram_template_corpus(
    df: DataFrame, text_col: str, url_col: str = "url",
    min_size: int = 2, max_size: int = 5,
    threshold_frac: float = 0.3, min_docs: int = 3,
    eliminate_overlaps: bool = True, fingerprints: DataFrame | None = None,
) -> DataFrame:
    """FNV-1a n-gram template corpus: (template_id, hash, ngram_size,
    doc_count, content [original lines], sample [normalized], position,
    template_type). Native window n-gram assembly; FNV-1a via vectorized UDF
    for golden parity (xxhash64 would be faster but breaks hash parity).

    Overlap elimination (templateDetection.effect.ts:283-312): larger
    templates first; a template whose normalized content is a substring of an
    already-kept one is dropped. The loop is inherently sequential over the
    corpus — a dimension-sized frame by construction (threshold is a fraction
    of docs), so it runs on the collected corpus like the reference does.
    Deviation (documented): the reference keeps the FIRST-seen doc's original
    lines as template content; we keep the min-by-url doc's (deterministic
    under any partitioning).

    The doc-count scalar rides the returned lazy plan (a broadcast 1-row
    aggregate), so every action on the result re-scans df; a consumer that
    runs several actions on it should persist it first."""
    corpus = _ngram_corpus_raw(
        df, text_col, url_col, min_size, max_size, threshold_frac, min_docs,
        fingerprints,
    )
    if eliminate_overlaps:
        corpus = remove_overlapping_templates(corpus)
    return corpus


def _ngram_corpus_raw(
    df, text_col, url_col, min_size, max_size, threshold_frac, min_docs,
    fingerprints=None,
):
    # The corpus-sized scalars (doc count + avg doc lines) ride the plan as a
    # broadcast 1-row aggregate instead of a driver collect() (guide
    # §1.4/§5.2): the corpus build is ONE action (the overlap-dedup fetch)
    # instead of two, and the doc scan overlaps the fingerprint stages inside
    # the same job rather than serializing ahead of them. Both scalars are
    # exact (long sum / count), so the in-plan values equal the collected
    # ones bit-for-bit; `int(n * frac)` == floor for the non-negative
    # product. NULL-text rows are excluded (they used to be absent from the
    # posexplode-era aggregate; size(split(NULL)) would contribute -1) and
    # docs counts DISTINCT urls, matching the old groupBy('_url') semantics.
    # The old `n_docs < min_docs -> empty corpus` early return is subsumed:
    # doc_count <= _docs, and the threshold is >= min_docs, so no row passes
    # when _docs < min_docs (the conjunct below keeps the rule explicit).
    scalars = df.filter(F.col(text_col).isNotNull()).agg(
        F.count_distinct(F.col(url_col)).alias("_docs"),
        F.avg(F.size(F.split(F.col(text_col), "\n"))).alias("_avg_lines"),
    )
    threshold = F.greatest(
        F.lit(min_docs).cast("long"),
        F.floor(F.col("_docs") * F.lit(float(threshold_frac))),
    )

    hashed = (
        fingerprints
        if fingerprints is not None
        else _doc_ngrams(df, text_col, url_col, min_size, max_size)
    )
    # Shuffle keys and metadata, not payloads (guide §2.3): the stats
    # aggregate (distinct-doc count + mean offset) shuffles only
    # (hash, ngram_size, _url, pos) — the old single groupBy dragged every
    # n-gram's content AND original lines through the count_distinct
    # two-phase exchange (266 MB at sf1.0). The content/sample columns are
    # fetched afterwards for the handful of hashes that pass the threshold
    # (the corpus is dimension-sized by construction), via a broadcast
    # semi-join back to the fingerprint frame.
    stats = (
        hashed.select("hash", "ngram_size", "_url", "pos")
        .groupBy("hash", "ngram_size")
        .agg(
            F.count_distinct("_url").alias("doc_count"),
            F.avg("pos").alias("avg_line_offset"),
        )
        .crossJoin(F.broadcast(scalars))
        .filter(
            (F.col("_docs") >= min_docs) & (F.col("doc_count") >= threshold)
        )
    )
    content = (
        hashed.join(
            F.broadcast(stats.select("hash", "ngram_size")),
            ["hash", "ngram_size"],
        )
        .groupBy("hash", "ngram_size")
        .agg(
            F.min("content").alias("sample"),
            F.min_by("orig", "_url").alias("content"),
        )
    )
    corpus = (
        stats.join(content, ["hash", "ngram_size"])
        .withColumn("template_id", F.concat(F.lit("tpl_"), F.substring("hash", 1, 8)))
        .select(
            "template_id", "hash", "ngram_size", "doc_count",
            "content", "sample", "avg_line_offset", "_avg_lines",
        )
    )
    # position rule (templateDetection.effect.ts): START/END/MIDDLE by avg
    # line offset vs 20%/80% of avg doc length, with the avg-lines scalar
    # read from the plan; a NULL or non-positive avg reads MIDDLE.
    pos_expr = (
        F.when(F.coalesce(F.col("_avg_lines"), F.lit(0.0)) <= 0.0, F.lit("MIDDLE"))
        .when(F.col("avg_line_offset") / F.col("_avg_lines") <= 0.2, F.lit("START"))
        .when(F.col("avg_line_offset") / F.col("_avg_lines") >= 0.8, F.lit("END"))
        .otherwise(F.lit("MIDDLE"))
    )
    return (
        corpus.withColumn("position", pos_expr)
        .withColumn("template_type", _classify_type_udf()("sample", "position"))
        .drop("_avg_lines")
    )


def remove_overlapping_templates(corpus: DataFrame) -> DataFrame:
    """Keep-larger overlap dedup over the (tiny) corpus: sort by line count
    desc (frequency desc within), drop templates whose normalized content is
    a substring of any kept one. Sequential by specification; the corpus is
    dimension-sized, so this is a driver-side fold like the reference's."""
    spark = corpus.sparkSession
    # the corpus is dimension-sized by construction (template threshold is a
    # FRACTION of docs); the limit guards the driver against a misconfigured
    # threshold, and ONE action does guard + fetch (the former separate
    # count() re-ran the whole upstream grouping). Ordering is applied
    # locally — same (size desc, count desc, hash asc) total order.
    rows = corpus.limit(100_001).collect()
    # explicit raise, not assert: `python -O` strips asserts, and a stripped
    # guard would silently truncate the corpus to an arbitrary 100,001-row
    # subset before overlap dedup.
    if len(rows) > 100_000:
        raise ValueError(
            f"template corpus unexpectedly large (>{len(rows) - 1} rows) — "
            "check template_threshold/min_docs_for_template"
        )
    rows.sort(key=lambda r: (-r["ngram_size"], -r["doc_count"], r["hash"]))
    kept, used = [], []
    for r in rows:
        norm = r["sample"]
        if any(norm in u for u in used):
            continue
        kept.append(r)
        used.append(norm)
    if not kept:
        return spark.createDataFrame([], corpus.schema)
    return spark.createDataFrame(kept, corpus.schema)


def strip_ngram_templates(
    df: DataFrame, corpus: DataFrame, text_col: str, url_col: str = "url",
    out_col: str = "stripped_text", fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Strip corpus templates from each doc (templateDetection.effect.ts:
    317-430): re-fingerprint the doc's line n-grams, hash-join against the
    (broadcast, dimension-sized) corpus, mark covered lines from ALL matches,
    keep non-overlapping refs (sort by line_start; on overlap keep the larger
    end — :397-430), emit unique lines + stripped text + lineage columns
    (template_refs, unique_lines).

    Reconstruction caveat (mirrors the reference's own behavior): covered
    lines come from ALL matches while refs keep only the overlap-deduped
    subset, so when overlap dedup replaces a kept ref with a later
    larger-end match, the replaced ref's leading lines are stripped yet
    appear in no kept ref — reconstruct_ngram_documents (the inverse, in
    tests/engine_reference.py) cannot restore them
    (tests/test_template_ngram.py::test_overlap_replacement_known_lossy
    documents the case). Round-trip identity holds whenever kept refs cover
    all stripped lines — the common no-overlap-replacement case.

    Spark shape: one hash join (broadcast corpus), one explode for the
    covered-line bitmap, one anti-join for unique lines — no pair joins, no
    driver loops; the per-doc ref dedup is a sequential scan over each doc's
    tiny match list inside an Arrow-batched UDF."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    fps = (
        fingerprints
        if fingerprints is not None
        else _doc_ngrams(df, text_col, url_col)
    )
    tpl = corpus.select(
        "hash", F.col("ngram_size").alias("_tsz"), "template_id"
    )
    matches = fps.join(F.broadcast(tpl), "hash").select(
        "_url",
        F.col("pos").alias("line_start"),
        (F.col("pos") + F.col("_tsz") - 1).alias("line_end"),
        "template_id",
    )

    ref_type = ArrayType(StructType([
        StructField("template_id", StringType()),
        StructField("line_start", IntegerType()),
        StructField("line_end", IntegerType()),
    ]))

    @F.pandas_udf(ref_type)
    def dedup_refs_udf(ref_lists):  # no annotations: future-annotations trap
        out = []
        for refs in ref_lists:
            # deterministic stand-in for the reference's input-order tie
            # break: line_start asc, larger span first, template_id
            rs = sorted(
                refs,
                key=lambda r: (r["line_start"], -r["line_end"], r["template_id"]),
            )
            kept = []
            for r in rs:
                if kept and r["line_start"] <= kept[-1]["line_end"]:
                    if r["line_end"] > kept[-1]["line_end"]:
                        kept[-1] = r
                else:
                    kept.append(r)
            out.append([
                {"template_id": r["template_id"],
                 "line_start": int(r["line_start"]),
                 "line_end": int(r["line_end"])} for r in kept
            ])
        return pd.Series(out)

    # ONE per-url fold produces BOTH the overlap-deduped refs and the
    # covered-line set (round 8): the previous shape spent three exchanges —
    # refs groupBy, covered explode+distinct, and a lines anti-join +
    # collect_list rebuild — where one match-row groupBy suffices; the
    # stripped text is then rebuilt row-locally from the doc's own line
    # array (split + array_except on positions), no line explode at all.
    per_url = matches.groupBy("_url").agg(
        dedup_refs_udf(
            F.collect_list(F.struct("template_id", "line_start", "line_end"))
        ).alias("template_refs"),
        F.array_sort(F.array_distinct(F.flatten(
            F.collect_list(F.sequence("line_start", "line_end"))
        ))).alias("_covered"),
    )

    lines_arr = F.split(F.col(text_col), "\n")
    kept = F.array_except(
        F.sequence(F.lit(0), F.col("_n_lines") - 1),
        F.coalesce(F.col("_covered"), F.array().cast("array<int>")),
    )
    out = (
        df.join(per_url.withColumnRenamed("_url", url_col), url_col, "left")
        # when() keeps NULL text -> NULL _n_lines -> NULL coverage (legacy
        # sizeOfNull would otherwise make size(split(NULL)) = -1).
        .withColumn(
            "_n_lines",
            F.when(F.col(text_col).isNotNull(), F.size(lines_arr)),
        )
        .withColumn(
            "unique_lines",
            F.coalesce(
                F.transform(
                    kept,
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.element_at(lines_arr, p + 1).alias("line"),
                    ),
                ),
                F.expr("CAST(array() AS array<struct<pos:int,line:string>>)"),
            ),
        )
        .withColumn(
            out_col,
            F.concat_ws(
                "\n", F.transform("unique_lines", lambda s: s.getField("line"))
            ),
        )
        .withColumn("template_refs", F.coalesce(
            F.col("template_refs"),
            F.expr("CAST(array() AS array<struct<template_id:string,line_start:int,line_end:int>>)"),
        ))
        .withColumn("chars_removed", F.length(text_col) - F.length(out_col))
        .withColumn(
            "template_coverage",
            (F.col("_n_lines") - F.size("unique_lines")).cast("double")
            / F.greatest(F.col("_n_lines"), F.lit(1)).cast("double"),
        )
        .drop("_covered", "_n_lines")
    )
    return out


def _classify_type_udf():
    """Arrow UDF for the template-type classifier (templateDetection.ts:
    188-249) used by the in-plan corpus build."""
    import pandas as pd
    from pyspark.sql.types import StringType

    from ..core.hashing import classify_template_type

    @F.pandas_udf(StringType())
    def classify_udf(samples, positions):
        return pd.Series([
            classify_template_type(s or "", p or "MIDDLE")
            for s, p in zip(samples, positions)
        ])

    return classify_udf
