"""The flagship pipeline: extract -> langid -> quality -> scrub -> relevance
-> dedup -> leak-check -> write (+ lineage & metrics).

One declarative DataFrame program. Catalyst prunes `html` right after
extraction; ALL per-document scoring (quality, langid, perplexity,
repetition, scrub cascade, simhash, relevance) runs in ONE fused Arrow-batch
pandas UDF stage; joins/windows/aggregations stay JVM-side.

Scale design notes (100 TB / 1000 executors):
  * one Arrow round-trip for the whole per-doc feature block — measured 3-5x
    faster than native-expression stages + separate UDFs on this workload,
    and it scales near-linearly with cores (the 125-term contains/regex
    expression programs anti-scaled past ~8 threads per JVM from
    string-allocation churn; the equivalent compiled-regex Python kernels are
    the same ones the correctness oracles use, so parity is by construction);
  * gates short-circuit INSIDE the batch: failed-quality/non-target-language
    docs skip the scrub cascade entirely;
  * a round-robin repartition to one slice per core before the UDF evens
    executor load (Common-Crawl host skew; FIXTURES gives a few hosts ~30%
    of rows); each Python task has a fixed cost, which the engine's worker
    daemon (scrubah_pii_spark.pyworker) cuts from ~0.24 s to ~0.04 s;
  * dedup shuffles on short keys (content_hash / simhash band bits);
    exact-dup removal runs before the banded near-dup stage, and near-dup
    uses bucket-representative windows (no pair joins — a corpus that is one
    giant near-dup cluster costs the same as a unique corpus);
  * output partitioned by crawl_date + bucketed url hash; per-partition
    lineage + metrics tables feed the completed-partition manifest (resume).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_PIPELINE_CONFIG, PipelineConfig
from ..functions.hashing_expr import doc_type_expr
from ..operators.dedup import dedup_verdicts_fused
from ..operators.scrub_op import (
    leak_check_expr,
    make_doc_features_extract_udf,
)
from ..sources.io import with_partition_cols

# The eager label barrier fires only when the measurable file-backed input is
# at least this large: at bench scale the extra count() action costs
# 0.5-0.9 s while the double-compute it prevents is also tiny. Inputs whose
# size cannot be determined (non-file sources, empty inputFiles) keep the
# barrier — the scale-safe default, and what multi-million-doc runs on
# cluster storage resolve to.
BARRIER_MIN_INPUT_BYTES = 256 * 1024 * 1024


@dataclass
class PipelineResult:
    output: DataFrame     # kept+demoted rows with scrubbed text + labels
    labeled: DataFrame    # every input row with stage labels (lineage)
    metrics: DataFrame    # per-partition per-stage counts


def _host(url_col):
    return F.regexp_extract(url_col, r"https?://([^/]+)/", 1)


def _core_count(spark) -> int:
    """Task slots of the session (defaultParallelism). Spark Connect has no
    sparkContext (PySparkAttributeError); there the shuffle width stands in."""
    try:
        sc = spark.sparkContext
    except AttributeError:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return sc.defaultParallelism


def generation_from_ts(warc_ts: Column, current_year: int) -> Column:
    """Pipeline recency rule: years between crawl year and the (frozen)
    current year. Replaces the reference's filename-date parsing — webpages
    have warc_ts, not dated filenames (FIXTURES.md §1)."""
    return F.greatest(F.lit(0), F.lit(current_year) - F.year(warc_ts))


def label_stage(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG,
    use_crawl_lang: bool = False,
) -> DataFrame:
    """Per-document half of the pipeline: extract -> fused scoring/scrub ->
    gates -> doc typing. Every column is a row-local function of the input
    row, so this stage can run over ANY subset of the corpus and union to
    the same rows — that row-locality is what makes per-partition
    checkpoint-resume (plans.resume) byte-identical to a single run. The
    corpus-global half (dedup, leak check, sinks) lives in
    finish_pipeline.

    The recency generation that relevance scoring reads comes from an input
    `generation` column when there is one (streaming pins it to 2);
    otherwise it is derived from warc_ts (generation_from_ts). This is the
    same column-presence rule as for `html` and `text`."""
    spark = df.sparkSession

    # -- extract (html -> text) is FUSED into the doc-features UDF (round 5):
    # the previous standalone extract UDF stage was a second
    # ArrowEvalPython node whose JVM queue re-buffered every passthrough
    # column — pure memory traffic at 32 cores. The inputs are masked the
    # same way: rows that already carry text ship a NULL html across Arrow
    # (never the bytes); rows without text ship html and extract in the same
    # Python pass as scoring. extract_text(None) == "" keeps null/null rows
    # identical to the old two-stage path.
    if "html" in df.columns:
        has_text = F.col("text").isNotNull() if "text" in df.columns else F.lit(False)
        text_arg = (
            F.when(has_text, F.col("text"))
            if "text" in df.columns
            else F.lit(None).cast("string")
        )
        html_arg = F.when(~has_text, F.col("html"))
        df = df.withColumn("_text_in", text_arg).withColumn(
            "_html_in", html_arg
        ).drop("html")
    else:
        df = df.withColumn("_text_in", F.col("text")).withColumn(
            "_html_in", F.lit(None).cast("binary")
        )

    # -- even repartition before the heavy UDF stage: one slice per core.
    # Round-robin gives perfectly EQUAL partition sizes, which matters
    # because the fused per-doc stage is uniform-cost-per-doc, so one slice
    # per core keeps every core busy to the end. More slices than cores buy
    # no balance and each one pays PySpark's per-task worker cost. In stock
    # PySpark that is 0.22-0.26 s of CPU per task on a 4-vCPU host: every
    # Python task runs importlib.invalidate_caches(), which re-reads the
    # directory of pyspark.zip (~11 ms, once per zipimporter the worker
    # holds, 11-12 of them) and of the spark-core jar on the worker path
    # (33-47 ms, twice). The engine's daemon (pyworker) holds those archives
    # out, which leaves ~0.04 s per task. Hash-partitioning on
    # (host, salt) left 2-3x size skew across partitions (few hot keys over
    # N buckets) and a measured straggler tail (CPU decaying 91%->16% while
    # the last tasks drained).
    df = df.withColumn("host", _host(F.col("url"))).repartition(
        _core_count(spark)
    )

    # -- fused per-doc Python stage: ONE Arrow round-trip computes quality,
    # langid, perplexity, repetition, (gated) scrub + simhash-of-scrubbed AND
    # relevance scoring — the same pure kernels the pytest/DuckDB oracles
    # use, so keep/drop parity holds by construction. Measured: splitting
    # into native-expression stages + separate UDFs was 3-5x slower end to
    # end and anti-scaled past ~8 JVM threads (string-allocation churn); the
    # fused batch-Python stage scales near-linearly with cores.
    if "generation" not in df.columns:
        df = df.withColumn(
            "generation",
            generation_from_ts(F.col("warc_ts"), cfg.relevance.current_year),
        )
    feats = make_doc_features_extract_udf(
        cfg.langid.keep_langs, cfg.quality.ocr_min_quality, cfg.scrub.scrub_mode
    )
    df = df.withColumn(
        "_f", feats(F.col("_text_in"), F.col("_html_in"), F.col("generation"))
    )
    df = df.withColumns(
        {name: F.col(f"_f.{name}") for name in (
            "lang_pred", "lang_score", "lang_margin", "log_ppl",
            "repetition_ratio", "quality_score", "alpha_ratio", "space_ratio",
            "word_count", "avg_word_len", "scrubbed_text", "replacements",
            "pii_count", "simhash", "relevance_score", "recommendation",
            "clinical_references", "placeholder_density",
            "medical_content_density", "is_garbage_doc", "has_outcomes",
            "has_diagnoses", "has_procedures", "has_lab_data",
            "has_medications")}
    ).drop("_f")
    lang_src = F.col("lang") if use_crawl_lang and "lang" in df.columns else F.col("lang_pred")
    df = (
        df.withColumn("lang_keep", lang_src.isin(*cfg.langid.keep_langs))
        .withColumn("quality_keep", F.col("quality_score") >= cfg.quality.ocr_min_quality)
        .withColumn("gates_pass", F.col("lang_keep") & F.col("quality_keep"))
    )

    # -- doc typing (native); simhash already computed in the fused stage
    df = df.withColumn(
        "doc_type", doc_type_expr(F.lit(""), F.coalesce("scrubbed_text", F.lit("")))
    )

    # Drop the raw text-copy inputs: everything downstream (dedup, output,
    # metrics, lineage) reads scrubbed_text only, and keeping extra text
    # copies per row multiplies cache and shuffle volume.
    return df.drop("_text_in", "_html_in", "text")


def run_pipeline(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG,
    use_crawl_lang: bool = False,
) -> PipelineResult:
    """df: (url, warc_ts, html, text?, lang?) — the input-hint table."""
    # sized on the input frame: once the labeled frame is persisted its
    # optimized plan is the cached relation, which lists no input files
    eager_barrier = _input_bytes(df) >= BARRIER_MIN_INPUT_BYTES
    df = label_stage(df, cfg, use_crawl_lang)

    # Stage barrier: persist the fully-labeled frame. Two reasons:
    #  (1) dedup, output, metrics and lineage all consume it — without the
    #      barrier Spark recomputes extract+scrub+score once per sink;
    #  (2) it stops Catalyst from substituting the (large) per-stage
    #      expression trees through the dedup joins/windows during filter
    #      pushdown — plan size stays linear in stages. At cluster scale this
    #      barrier is the natural stage-materialization point (MEMORY_AND_DISK
    #      spills; plans.resume swaps it for a manifest-tracked parquet stage
    #      write, which is also the checkpoint-resume boundary).
    labeled = df.persist()
    # Eager barrier: populate the cache BEFORE the two independent consumer
    # branches of finish_pipeline fan out. Without it, a single downstream
    # action submits the verdict-build stage and the join-probe stage
    # concurrently and both compute the label UDF (2M docs x 4x8 executors:
    # 207.2 s lazy vs 149.0 s eager — the lazy "one action" run pays the
    # label stage nearly twice). Small inputs skip it: see
    # BARRIER_MIN_INPUT_BYTES.
    if eager_barrier:
        labeled.count()
    return finish_pipeline(labeled, cfg)


def _input_bytes(df: DataFrame) -> int:
    """Total size of the frame's file-backed input, or a huge sentinel when
    it cannot be determined (non-file sources, remote schemes without a
    cheap local stat) — 'unknown' must err toward KEEPING the barrier."""
    import os
    from urllib.parse import unquote, urlparse

    unknown = 1 << 62
    try:
        files = df.inputFiles()
    except Exception:
        return unknown
    if not files:
        return unknown
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return unknown
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return unknown
    return total


def finish_pipeline(
    labeled: DataFrame, cfg: PipelineConfig = DEFAULT_PIPELINE_CONFIG
) -> PipelineResult:
    """Corpus-global half: dedup verdicts, leak check, partitioned output +
    metrics. `labeled` is the label_stage frame — either persisted in-session
    (run_pipeline) or re-read from the stage-1 parquet checkpoint
    (plans.resume); both paths produce identical rows."""
    candidates = labeled.filter(F.col("recommendation") != "discard")

    # -- dedup on a SLIM projection. The exact-dup window (shuffle on
    # content_hash) and the band-key shuffle move only
    # (url, ts, doc_type, simhash, content_hash) ~60 B/row — the scrubbed
    # text (~1 KB/row) never shuffles. dedup_verdicts_fused runs the whole
    # verdict chain in THREE exchanges (hash window, band window, per-doc
    # fold) and returns one row per non-exact-duplicate (url, warc_ts), so
    # the single inner join below both re-attaches verdict columns and drops
    # exact dups. Joining on the composite (url, warc_ts) — not url alone —
    # keeps re-crawled urls (same url, different warc_ts) from fanning the
    # join out and silently defeating exact dedup. AQE broadcasts the verdict
    # side when small; at cluster scale it is a shuffle join on short keys.
    from ..functions.hashing_expr import content_hash_expr

    slim = candidates.select(
        "url", "warc_ts", "doc_type", "simhash",
        content_hash_expr(F.col("scrubbed_text")).alias("content_hash"),
    )
    verdicts = dedup_verdicts_fused(slim)
    survivors = candidates.join(verdicts, ["url", "warc_ts"]).filter(
        ~F.col("is_near_dup")
    )

    # -- leak check: hard gate before the sink (phi.ts assertion semantics)
    survivors = survivors.withColumn(
        "pii_leak", leak_check_expr(F.col("scrubbed_text"))
    )

    output = with_partition_cols(survivors).select(
        "url", "warc_ts", "crawl_date", "url_bucket", "host",
        "scrubbed_text", "replacements", "pii_count",
        "lang_pred", "quality_score", "log_ppl", "repetition_ratio",
        "relevance_score", "recommendation", "generation",
        "content_hash", "simhash", "doc_type",
        "similarity", "difference_type", "pii_leak",
    )
    output = shape_output(output, cfg.shaping)

    metrics = (
        with_partition_cols(labeled)
        .groupBy("crawl_date")
        .agg(
            F.count("*").alias("docs_in"),
            F.sum(F.col("lang_keep").cast("int")).alias("lang_kept"),
            F.sum(F.col("quality_keep").cast("int")).alias("quality_kept"),
            F.sum((F.col("recommendation") == "keep").cast("int")).alias("kept"),
            F.sum((F.col("recommendation") == "demote").cast("int")).alias("demoted"),
            F.sum((F.col("recommendation") == "discard").cast("int")).alias("discarded"),
            F.sum("pii_count").alias("pii_replacements"),
            F.avg("quality_score").alias("avg_quality"),
            F.avg("relevance_score").alias("avg_relevance"),
        )
    )

    return PipelineResult(output=output, labeled=labeled, metrics=metrics)


def shape_output(output: DataFrame, shaping) -> DataFrame:
    """Optional corpus-shaping on the pipeline output (ShapingConfig; both
    stages default off — schema is unchanged either way). Host cap first
    (bounds any one host's contribution), then the language quota (fixes
    the corpus mix over what survived the cap)."""
    from ..operators.sampling import host_cap_topn, stratified_sample

    cols = output.columns  # joins reorder columns; restore at the end
    if shaping.host_cap_n:
        output = host_cap_topn(
            output,
            "host",
            [
                F.col("relevance_score").desc_nulls_last(),
                F.col("url").asc(),
                F.col("warc_ts").asc(),
            ],
            n=shaping.host_cap_n,
            id_col="url",
        ).drop("rank")
    if shaping.lang_cap:
        sid = F.pmod(F.xxhash64("url", "warc_ts"), F.lit(2**31))
        output = (
            stratified_sample(
                output.withColumn("_sid", sid),
                "lang_pred",
                cap=shaping.lang_cap,
                id_col="_sid",
            )
            .drop("_sid")
        )
    return output.select(cols)


def lineage_table(labeled: DataFrame) -> DataFrame:
    """Per-document-per-pattern audit rows (AuditCollector semantics,
    auditCollector.ts:19-149): explode the replacement map, classify the
    pattern namespace from the placeholder."""
    return (
        labeled.filter(F.col("replacements").isNotNull())
        .select(
            "url",
            F.explode_outer("replacements").alias("original", "placeholder"),
        )
        .withColumn(
            "pattern_type",
            F.regexp_extract("placeholder", r"\[([A-Z_]+?)[-_]\d+\]", 1),
        )
        .groupBy("url", "pattern_type")
        .agg(
            F.count("*").alias("match_count"),
            F.sum(F.length("original")).alias("chars_removed"),
        )
    )
