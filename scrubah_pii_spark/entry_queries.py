"""Driver-contract queries + DuckDB oracle SQL.

Each operator from SURVEY.md §2 gets (a) a Spark callable (spark, sf_dir) ->
DataFrame and (b) where ANSI-SQL-expressible, an equivalent DuckDB SQL string
over the pre-registered views. Column names and value arithmetic (including
IEEE addition order) mirror each other exactly so the driver's
order-insensitive value-hash matches.

Round 2: simhash bit-parity, perplexity, LSH ANN/minhash pairs, semantic
clusters, markdown sink, structured extraction and narrative all gained
DuckDB oracles (oracles_sql.py). Only the sequential scrub cascade (and the
pipeline composition that embeds it) stays rows-only; its correctness is the
JS-parity harness + committed goldens + fuzz suites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core.langid import LANG_MARKERS, LANG_ORDER
from .core.relevance import (
    CLINICAL_REFERENCES,
    GARBAGE_INDICATORS,
    REFERENCE_WEIGHTS,
)
from .functions.hashing_expr import (
    content_hash_expr,
    doc_type_expr,
    extract_dates_expr,
    normalize_for_hashing_expr,
)
from .operators.row_udf import row_udf
from .oracles_sql import DOT, NRM, SQL_NORM


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count when the scan produced fewer
    partitions than cores. The sf0.x documents/embeddings tables are single
    parquet files (one scan partition), which would run every per-doc Arrow
    kernel on ONE task of a 32-core session; a real 100 TB scan yields
    thousands of partitions and this is a no-op (the probe sees
    partitions >= cores and returns the frame untouched).

    Which queries call it was settled per query by an interleaved A/B of
    the scan shape (BENCH/spread_ab_r7.json)."""
    try:
        # the ONLY expected failure here is Spark Connect's missing
        # sparkContext/RDD bridge — probe it first so a genuine
        # analysis/repartition error below propagates instead of being
        # silently swallowed (r7 ADVICE)
        sc = df.sparkSession.sparkContext
    except Exception:
        # Spark Connect. Fall back to a Connect-safe heuristic: a scan over
        # fewer files than the session's shuffle width is the single-file
        # trap this helper exists for. inputFiles() == [] means a derived /
        # non-file-backed frame whose width is unknown — no-op, never an
        # unconditional repartition (r7 ADVICE).
        try:
            target = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
            )
            files = df.inputFiles()
        except Exception:
            return df
        if files and len(files) < target:
            return df.repartition(target)
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df



def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# --------------------------------------------------------------------------
# quality gate (compressionPipeline.effect.ts:102-135)
# --------------------------------------------------------------------------

def q_quality_score(spark, sf_dir):
    # Fused Arrow kernel (operators/scrub_op.py:quality_metrics_udf): the
    # same pure function (core.quality) the flagship runs and the DuckDB
    # oracle models.
    from .operators.scrub_op import quality_metrics_udf

    df = _spread(_docs(spark, sf_dir))
    q = quality_metrics_udf(F.col("text"))
    return df.select("doc_id", q.alias("q")).select(
        "doc_id",
        F.round(F.col("q.alpha_ratio"), 6).alias("alpha_ratio"),
        F.round(F.col("q.space_ratio"), 6).alias("space_ratio"),
        F.col("q.word_count").cast("long").alias("word_count"),
        F.round(F.col("q.avg_word_len"), 6).alias("avg_word_len"),
        F.round(F.col("q.quality_score"), 6).alias("quality_score"),
        F.col("q.passed").alias("passed"),
    )


SQL_QUALITY = """
WITH base AS (
  SELECT doc_id, text,
    CAST(greatest(length(text), 1) AS DOUBLE) AS n,
    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_c,
    CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS space_c,
    len(list_filter(regexp_split_to_array(text, '\\s+'), w -> len(w) > 0)) AS wc
  FROM documents
), m AS (
  SELECT doc_id, alpha_c / n AS alpha, space_c / n AS space, wc,
    CASE WHEN wc > 0 THEN (CAST(length(text) AS DOUBLE) - space_c) / CAST(wc AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS awl
  FROM base
), sc AS (
  SELECT *,
    (((CASE WHEN alpha > 0.5 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN space > 0.1 AND space < 0.3 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
     + CASE WHEN awl > 3 AND awl < 15 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
     + CASE WHEN wc > 10 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS score
  FROM m
)
SELECT doc_id,
  round(alpha, 6) AS alpha_ratio,
  round(space, 6) AS space_ratio,
  CAST(wc AS BIGINT) AS word_count,
  round(awl, 6) AS avg_word_len,
  round(score, 6) AS quality_score,
  score >= 0.3 AS passed
FROM sc
"""


# --------------------------------------------------------------------------
# relevance keep/drop (medicalRelevanceFilter.ts:297-385)
# --------------------------------------------------------------------------

def q_relevance_label(spark, sf_dir):
    # Fused Arrow kernel (operators/scrub_op.py:relevance_metrics_udf) —
    # same pure function as the flagship/oracle; replaces a ~125-term native
    # contains-expression program, the measured anti-scaling path
    # (plans/pipeline.py:10-16).
    from .operators.scrub_op import relevance_metrics_udf

    df = _spread(_docs(spark, sf_dir))
    r = relevance_metrics_udf(F.col("text"))
    return df.select("doc_id", r.alias("r")).select(
        "doc_id",
        F.col("r.clinical_references").cast("long").alias("clinical_references"),
        F.col("r.is_garbage_doc").alias("is_garbage_doc"),
        F.col("r.has_diagnoses").alias("has_diagnoses"),
        F.col("r.has_procedures").alias("has_procedures"),
        F.col("r.has_outcomes").alias("has_outcomes"),
        F.col("r.has_lab_data").alias("has_lab_data"),
        F.col("r.has_medications").alias("has_medications"),
        F.round(F.col("r.medical_content_density"), 6).alias("medical_content_density"),
        F.round(F.col("r.relevance_score"), 6).alias("relevance_score"),
        F.col("r.recommendation").alias("recommendation"),
    )


def _sql_refs_cols() -> str:
    """One integer sum column per category (keeps DuckDB binder depth < 128;
    integer addition is order-independent so splitting is exact)."""
    cols = []
    for cat, terms in CLINICAL_REFERENCES.items():
        w = REFERENCE_WEIGHTS[cat]
        parts = " + ".join(
            f"CASE WHEN contains(lt, '{t}') THEN {w} ELSE 0 END" for t in terms
        )
        cols.append(f"({parts}) AS refs_{cat.lower()}")
    return ",\n    ".join(cols)


def _sql_any(terms) -> str:
    return "(" + " OR ".join(f"contains(lt, '{t}')" for t in terms) + ")"


def _sql_relevance() -> str:
    garbage = _sql_any(GARBAGE_INDICATORS)
    flags = {
        "has_diagnoses": _sql_any(CLINICAL_REFERENCES["DIAGNOSES"]),
        "has_procedures": _sql_any(CLINICAL_REFERENCES["PROCEDURES"]),
        "has_outcomes": _sql_any(CLINICAL_REFERENCES["OUTCOMES"]),
        "has_lab_data": _sql_any(CLINICAL_REFERENCES["LAB_VITALS"]),
        "has_medications": _sql_any(CLINICAL_REFERENCES["TREATMENTS"]),
    }
    refs_sum = " + ".join(f"refs_{cat.lower()}" for cat in CLINICAL_REFERENCES)
    # every numeric literal is cast to DOUBLE: DuckDB would otherwise use
    # DECIMAL arithmetic (different division rounding than Spark's doubles)
    return f"""
WITH base AS (
  SELECT doc_id, text, lower(text) AS lt,
    length(regexp_replace(text, '\\s+', '', 'g')) AS non_ws,
    length(text) - length(regexp_replace(text, '\\[[A-Z_]+_\\d+\\]', '', 'g')) AS ph_chars,
    len(list_filter(regexp_split_to_array(text, '\\s+'), w -> len(w) > 0)) AS words
  FROM documents
), rc AS (
  SELECT *,
    {_sql_refs_cols()}
  FROM base
), m AS (
  SELECT doc_id,
    ({refs_sum}) AS refs,
    {garbage} AS garbage,
    CASE WHEN length(text) = 0 THEN CAST(1.0 AS DOUBLE)
         WHEN non_ws = 0 THEN CAST(1.0 AS DOUBLE)
         ELSE CAST(ph_chars AS DOUBLE) / CAST(non_ws AS DOUBLE) END AS phd,
    words,
    {flags['has_diagnoses']} AS has_diagnoses,
    {flags['has_procedures']} AS has_procedures,
    {flags['has_outcomes']} AS has_outcomes,
    {flags['has_lab_data']} AS has_lab_data,
    {flags['has_medications']} AS has_medications
  FROM rc
), s AS (
  SELECT *,
    CASE WHEN words > 0 THEN least(CAST(1.0 AS DOUBLE), refs * CAST(1.5 AS DOUBLE) / words)
         ELSE CAST(0.0 AS DOUBLE) END AS medd,
    ((((((((((CAST(50.0 AS DOUBLE)
      + CASE WHEN phd > 0.6 THEN CAST(-40.0 AS DOUBLE)
             WHEN phd > 0.4 THEN CAST(-25.0 AS DOUBLE)
             WHEN phd > 0.2 THEN CAST(-10.0 AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END)
      + (CASE WHEN words > 0 THEN least(CAST(1.0 AS DOUBLE), refs * CAST(1.5 AS DOUBLE) / words)
              ELSE CAST(0.0 AS DOUBLE) END) * 50)
      + CAST(least(30, refs * 2) AS DOUBLE))
      + CASE WHEN has_diagnoses THEN CAST(10.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CASE WHEN has_procedures THEN CAST(10.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CASE WHEN has_outcomes THEN CAST(15.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CASE WHEN has_lab_data THEN CAST(8.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CASE WHEN has_medications THEN CAST(7.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CASE WHEN garbage THEN CAST(-50.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      + CAST(0.0 AS DOUBLE)) AS raw_score
  FROM m
)
SELECT doc_id,
  CAST(refs AS BIGINT) AS clinical_references,
  garbage AS is_garbage_doc,
  has_diagnoses, has_procedures, has_outcomes, has_lab_data, has_medications,
  round(medd, 6) AS medical_content_density,
  round(greatest(CAST(0.0 AS DOUBLE), least(CAST(100.0 AS DOUBLE), raw_score)), 6) AS relevance_score,
  CASE WHEN garbage THEN 'discard'
       WHEN greatest(CAST(0.0 AS DOUBLE), least(CAST(100.0 AS DOUBLE), raw_score)) >= 60 THEN 'keep'
       WHEN greatest(CAST(0.0 AS DOUBLE), least(CAST(100.0 AS DOUBLE), raw_score)) >= 30 THEN 'demote'
       ELSE 'discard' END AS recommendation
FROM s
"""


# --------------------------------------------------------------------------
# langid heuristic
# --------------------------------------------------------------------------

def q_langid(spark, sf_dir):
    from .operators.scrub_op import langid_udf

    df = _spread(_docs(spark, sf_dir))
    return df.select("doc_id", "lang", langid_udf(F.col("text")).alias("l")).select(
        "doc_id", "l.*", (F.col("l.lang_pred") == F.col("lang")).alias("matches_crawl")
    )


def _sql_langid() -> str:
    score_exprs = {}
    for lang in LANG_ORDER:
        terms = [
            f"(length(p) - length(replace(p, '{m}', ''))) / {len(m)}"
            for m in LANG_MARKERS[lang]
        ]
        score_exprs[lang] = "CAST((" + " + ".join(terms) + ") AS INT)"
    order = ", ".join(f"s_{l}" for l in LANG_ORDER)
    pred = "CASE WHEN best = 0 THEN 'xx'"
    for l in LANG_ORDER[:-1]:
        pred += f" WHEN s_{l} = best THEN '{l}'"
    pred += f" ELSE '{LANG_ORDER[-1]}' END"
    return f"""
WITH base AS (
  SELECT doc_id, lang, ' ' || replace(lower(text), chr(10), ' ') || ' ' AS p
  FROM documents
), s AS (
  SELECT doc_id, lang,
    {", ".join(f"{score_exprs[l]} AS s_{l}" for l in LANG_ORDER)}
  FROM base
), b AS (
  SELECT *, greatest({order}) AS best,
    list_sort([{order}], 'DESC')[2] AS second
  FROM s
)
SELECT doc_id,
  {pred} AS lang_pred,
  CAST(CASE WHEN best = 0 THEN 0 ELSE best END AS BIGINT) AS lang_score,
  CAST(CASE WHEN best = 0 THEN 0 ELSE best - second END AS BIGINT) AS lang_margin,
  ({pred}) = lang AS matches_crawl
FROM b
"""


# --------------------------------------------------------------------------
# fingerprints / dedup
# --------------------------------------------------------------------------

def q_content_hash(spark, sf_dir):
    return _spread(_docs(spark, sf_dir)).select(
        "doc_id",
        normalize_for_hashing_expr(F.col("text")).alias("normalized"),
        content_hash_expr(F.col("text")).alias("content_hash"),
    )


SQL_CONTENT_HASH = f"""
SELECT doc_id, {SQL_NORM} AS normalized, sha256({SQL_NORM}) AS content_hash
FROM documents
"""


def q_exact_dedup(spark, sf_dir):
    df = _spread(_docs(spark, sf_dir)).withColumn("content_hash", content_hash_expr(F.col("text")))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return df.select(
        "doc_id",
        "content_hash",
        (F.row_number().over(w) > 1).alias("is_exact_dup"),
        F.first("doc_id").over(w).alias("first_doc_id"),
    )


SQL_EXACT_DEDUP = f"""
WITH h AS (SELECT doc_id, sha256({SQL_NORM}) AS content_hash FROM documents)
SELECT doc_id, content_hash,
  row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) > 1 AS is_exact_dup,
  first_value(doc_id) OVER (PARTITION BY content_hash ORDER BY doc_id) AS first_doc_id
FROM h
"""


def q_token_stats(spark, sf_dir):
    df = _spread(_docs(spark, sf_dir))
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0)
    return df.select(
        "doc_id",
        F.length("text").cast("long").alias("char_len"),
        F.size(words).cast("long").alias("ws_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("distinct_words"),
    )


SQL_TOKEN_STATS = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS char_len,
  CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0)) AS BIGINT) AS ws_tokens,
  CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0))) AS BIGINT) AS distinct_words
FROM documents
"""


def q_doc_type(spark, sf_dir):
    return _spread(_docs(spark, sf_dir)).select(
        "doc_id", doc_type_expr(F.lit(""), F.col("text")).alias("doc_type")
    )


SQL_DOC_TYPE = """
WITH p AS (SELECT doc_id, lower(' ' || substr(text, 1, 500)) AS probe FROM documents)
SELECT doc_id,
  CASE
    WHEN regexp_matches(probe, 'lab|labrpt|cbc|cmp|bmp|wbc|hemoglobin') THEN 'lab_report'
    WHEN regexp_matches(probe, 'ct|mri|x-?ray|ultrasound|imaging|radiology|mammogram') THEN 'imaging'
    WHEN regexp_matches(probe, 'pathology|biopsy|specimen|histology') THEN 'pathology'
    WHEN regexp_matches(probe, 'progress note|soap|assessment|plan|provider') THEN 'progress_note'
    WHEN regexp_matches(probe, 'medication|prescription|refill|pharmacy') THEN 'medication'
    WHEN regexp_matches(probe, 'discharge|summary|follow-?up instructions') THEN 'discharge'
    WHEN regexp_matches(probe, 'letter|correspondence|referral') THEN 'correspondence'
    ELSE 'unknown' END AS doc_type
FROM p
"""


def q_extract_dates(spark, sf_dir):
    dates = extract_dates_expr(F.col("text"))
    return _spread(_docs(spark, sf_dir)).select(
        "doc_id",
        F.size(dates).cast("long").alias("n_dates"),
        F.array_join(F.array_sort(dates), ",").alias("dates_sorted"),
    )


SQL_EXTRACT_DATES = """
WITH d AS (
  SELECT doc_id,
    list_distinct(
      regexp_extract_all(text, '\\d{1,2}[-/]\\d{1,2}[-/]\\d{2,4}')
      || regexp_extract_all(text, '\\d{4}[-/]\\d{1,2}[-/]\\d{1,2}')
      || regexp_extract_all(text, '(?i)\\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\\s+\\d{1,2},?\\s+\\d{4}')
    ) AS dates
  FROM documents
)
SELECT doc_id, CAST(len(dates) AS BIGINT) AS n_dates,
  coalesce(array_to_string(list_sort(dates), ','), '') AS dates_sorted
FROM d
"""


def q_jaccard_pairs(spark, sf_dir):
    from .operators.dedup import exact_jaccard_pairs_prefix

    df = _spread(_docs(spark, sf_dir))
    # threshold 0.85 is the reference's dedup rule
    # (compressionPipeline.effect.ts:189-227); lower thresholds make the
    # OUTPUT itself quadratic in corpus size (0.5 emitted 9M rows at sf0.1).
    # Production path: AllPairs prefix filtering — identical pairs to the
    # naive definition (the DuckDB oracle IS the naive definition, so this
    # query hash-proves the equivalence every round); the word join explodes
    # only rarest-prefix tokens, bounding hot-key fan-out.
    pairs = exact_jaccard_pairs_prefix(df, "text", "doc_id", threshold=0.85)
    return pairs.select(
        F.col("id_a").alias("id_a"),
        F.col("id_b").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_jaccard_group_edges(spark, sf_dir):
    """Production (bounded-output) form of jaccard dedup: identical-set
    groups emit representative->member 1.0 edges (m-1 rows, not m(m-1)/2)
    and distinct-set pairs emit one rep<->rep edge. The full pair list of
    jaccard_pairs is recoverable via expand_jaccard_group_edges in
    tests/dedup_reference.py (pytest-proven); output is linear in distinct
    sets + corpus size."""
    from .operators.dedup import exact_jaccard_pairs_prefix

    df = _spread(_docs(spark, sf_dir))
    edges = exact_jaccard_pairs_prefix(
        df, "text", "doc_id", threshold=0.85, expand_groups=False
    )
    return edges.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_JACCARD_GROUP_EDGES = """
WITH words AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 3))) AS word
  FROM documents
), sets AS (
  SELECT doc_id, string_agg(word, chr(31) ORDER BY word) AS fpkey,
         count(*) AS sz
  FROM words GROUP BY doc_id
), grp AS (
  SELECT fpkey, min(doc_id) AS rep FROM sets GROUP BY fpkey
), mem AS (
  SELECT s.doc_id, g.rep FROM sets s JOIN grp g USING (fpkey)
), within AS (
  SELECT rep AS id_a, doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM mem WHERE doc_id != rep
), inter AS (
  SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS i
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT x, y, CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS j
  FROM inter
  JOIN sets sa ON sa.doc_id = x
  JOIN sets sb ON sb.doc_id = y
  WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.85
), crossg AS (
  SELECT DISTINCT least(ma.rep, mb.rep) AS id_a,
    greatest(ma.rep, mb.rep) AS id_b, round(p.j, 6) AS jaccard
  FROM pairs p
  JOIN mem ma ON ma.doc_id = p.x
  JOIN mem mb ON mb.doc_id = p.y
  WHERE ma.rep != mb.rep
)
SELECT id_a, id_b, jaccard FROM within
UNION ALL
SELECT id_a, id_b, jaccard FROM crossg
"""


SQL_JACCARD_PAIRS = """
WITH words AS (
  SELECT doc_id, unnest(list_distinct(list_filter(
      regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 3))) AS word
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM words GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM words a JOIN words b ON a.word = b.word AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
  round(CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.85
"""


# --------------------------------------------------------------------------
# similarity search (embeddings)
# --------------------------------------------------------------------------

def q_ann_topk(spark, sf_dir):
    from .operators.similarity import cosine_expr, rank_top_k

    emb = _spread(_embeddings(spark, sf_dir))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q")
    )
    joined = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    # the oracle ranks the rounded cosine, so the rank window reads it too
    scored = joined.withColumn(
        "cosine", F.round(cosine_expr(F.col("_q"), F.col("embedding")), 6)
    )
    return rank_top_k(scored, 10, "vec_id").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round(CASE WHEN {NRM.format(a='q.qe')} * {NRM.format(a='e.embedding')} > 0
          THEN {DOT.format(a='q.qe', b='e.embedding')}
               / ({NRM.format(a='q.qe')} * {NRM.format(a='e.embedding')})
          ELSE CAST(0.0 AS DOUBLE) END, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# events: timeline numbering, lag trends, summary (SURVEY §2.5-2.6)
# --------------------------------------------------------------------------

def q_event_timeline(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("seq"),
    )


SQL_EVENT_TIMELINE = """
SELECT user_id, event_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
"""


def q_event_lag_trend(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    pct = F.when(
        prev.isNotNull() & (prev != 0), (F.col("value") - prev) / F.abs(prev) * 100
    )
    trend = (
        F.when(prev.isNull(), "INSUFFICIENT_DATA")
        .when(F.abs(pct) < 5.0, "STABLE")
        .when(pct > 0, "INCREASING")
        .otherwise("DECREASING")
    )
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.round("value", 6).alias("value"),
        F.round(prev, 6).alias("prev_value"),
        F.round(pct, 6).alias("pct_change"),
        trend.alias("trend"),
    )


SQL_EVENT_LAG_TREND = """
WITH l AS (
  SELECT user_id, event_type, event_id, value,
    lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
  FROM events
), p AS (
  SELECT *,
    CASE WHEN prev IS NOT NULL AND prev != 0
         THEN (value - prev) / abs(prev) * 100 END AS pct
  FROM l
)
SELECT user_id, event_type, event_id,
  round(value, 6) AS value,
  round(prev, 6) AS prev_value,
  round(pct, 6) AS pct_change,
  CASE WHEN prev IS NULL THEN 'INSUFFICIENT_DATA'
       WHEN abs(pct) < 5.0 THEN 'STABLE'
       WHEN pct > 0 THEN 'INCREASING'
       ELSE 'DECREASING' END AS trend
FROM p
"""


def q_event_summary(spark, sf_dir):
    ev = _events(spark, sf_dir)
    # timestamps as wall-clock strings: timezone-independent in both engines
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        # decimal sum: exact & partition-order-independent (double sums are not)
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4).alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
    )


SQL_EVENT_SUMMARY = """
SELECT event_type,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_value,
  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
FROM events
GROUP BY event_type
"""


def q_event_topk_users(spark, sf_dir):
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 4).alias("total_value")
    )
    # orderBy().limit(k) compiles to TakeOrderedAndProject (per-partition
    # top-k + tiny merge) — a global Window.orderBy would sort the whole
    # user-count frame on ONE reducer. The row_number window then runs over
    # the already-materialized k rows only.
    top = agg.orderBy(F.desc("total_value"), F.asc("user_id")).limit(10)
    w = Window.orderBy(F.desc("total_value"), F.asc("user_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "user_id", "total_value", "rnk"
    )


SQL_EVENT_TOPK_USERS = """
WITH a AS (
  SELECT user_id, round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 4) AS total_value
  FROM events GROUP BY user_id
)
SELECT user_id, total_value,
  CAST(row_number() OVER (ORDER BY total_value DESC, user_id ASC) AS BIGINT) AS rnk
FROM a QUALIFY rnk <= 10
"""


def q_header_mode(spark, sf_dir):
    """Header/footer mode analog (fileParser.effect.ts:457-477): the most
    frequent leading 3-word prefix across documents."""
    df = _spread(_docs(spark, sf_dir))
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)
    prefix = F.concat_ws(" ", F.slice(words, 1, 3))
    counts = df.select(prefix.alias("prefix")).groupBy("prefix").agg(
        F.count("*").alias("cnt")
    )
    # TakeOrderedAndProject top-k, then number the 5 surviving rows (see
    # q_event_topk_users for the scale rationale).
    top = counts.orderBy(F.desc("cnt"), F.asc("prefix")).limit(5)
    w = Window.orderBy(F.desc("cnt"), F.asc("prefix"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "prefix", "cnt", "rnk"
    )


SQL_HEADER_MODE = """
WITH p AS (
  SELECT array_to_string(list_filter(regexp_split_to_array(text, '\\s+'), w -> len(w) > 0)[1:3], ' ') AS prefix
  FROM documents
), c AS (
  SELECT prefix, count(*) AS cnt FROM p GROUP BY prefix
)
SELECT prefix, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, prefix ASC) AS BIGINT) AS rnk
FROM c QUALIFY rnk <= 5
"""


def q_template_lines(spark, sf_dir):
    """Line-frequency template detection (compressionPipeline.effect.ts:
    141-183): trimmed lines >= min_len chars, counted once per doc, template
    iff present in >= max(2, 50% of docs).

    The driver's documents.text is single-line prose, so the query derives a
    multiline view deterministically (re-wrap at every word boundary) and
    lowers min_len from the reference's 20 (prose lines) to 6 (the corpus'
    words are short) — the threshold arithmetic, per-doc dedup and counting
    then run on real, non-empty rows in both engines."""
    from .operators.template import line_frequency_templates

    df = _spread(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("url"),
        F.regexp_replace("text", r"\s+", "\n").alias("text"),
    )
    return line_frequency_templates(df, "text", min_len=6).select(
        F.col("trimmed").alias("line"), F.col("doc_count").cast("long").alias("doc_count")
    )


def _framed_stripped(spark, sf_dir):
    """The template pair's shared construction: the framed multiline view of
    the documents, its n-gram template corpus, and the stripped rows (url,
    text, stripped_text, chars_removed, template_refs)."""
    from .operators.template import (
        _doc_ngrams,
        ngram_template_corpus,
        strip_ngram_templates,
    )
    from .oracles_sql import framed_text_expr

    df = _spread(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("url"),
        framed_text_expr().alias("text"),
    )
    # fingerprint ONCE; corpus build and strip both consume the persisted
    # frame instead of re-running the window n-gram + hash stage twice
    fps = _doc_ngrams(df, "text").persist()
    corpus = ngram_template_corpus(df, "text", fingerprints=fps)
    return strip_ngram_templates(df, corpus, "text", fingerprints=fps)


def q_template_ngram_strip(spark, sf_dir):
    """Full n-gram boilerplate-removal path (templateDetection.effect.ts:
    143-312 corpus + overlap elimination, :317-430 strip): detect the chrome
    framing every page of the derived multiline view and strip it, leaving
    exactly the re-wrapped content. The oracle computes the expected stripped
    output directly; reconstruction (the inverse) is property-tested in
    tests/test_template_ngram.py."""
    return _framed_stripped(spark, sf_dir).select(
        F.col("url").cast("long").alias("doc_id"),
        "stripped_text",
        F.col("chars_removed").cast("long").alias("chars_removed"),
        F.size("template_refs").cast("long").alias("n_refs"),
    )


def q_compression_summary(spark, sf_dir):
    """Corpus compression stats after boilerplate stripping — the
    reference's averageCompressionRatio headline (compressionPipeline
    stage metrics; README claims 81% on repetitive content). Per-doc ratio
    = stripped/original chars; the average is summed in decimal so it is
    partition-order-independent (IEEE double sums are not)."""
    stripped = _framed_stripped(spark, sf_dir)
    ratio = F.length("stripped_text").cast("double") / F.length("text").cast("double")
    return stripped.agg(
        F.count("*").cast("long").alias("docs"),
        F.sum(F.length("text")).cast("long").alias("original_chars"),
        F.sum(F.length("stripped_text")).cast("long").alias("stripped_chars"),
        F.round(
            (F.sum(ratio.cast("decimal(28,12)")) / F.count("*")).cast("double"), 6
        ).alias("avg_compression_ratio"),
    )


def q_quality_routing(spark, sf_dir):
    """Routing levels + flags (ocrQualityGate.effect.ts:219-247 thresholds)
    on top of the quality metrics."""
    from .operators.report import quality_routing
    from .operators.scrub_op import quality_metrics_udf

    df = _spread(_docs(spark, sf_dir))
    q = quality_metrics_udf(F.col("text"))
    base = df.select("doc_id", q.alias("q")).select(
        "doc_id",
        "q.quality_score",
        "q.alpha_ratio",
        "q.word_count",
        F.lit(0.0).alias("repetition_ratio"),
    )
    out = quality_routing(base)
    return out.select(
        "doc_id",
        "quality_level",
        F.array_join(F.col("quality_flags"), ",").alias("flags"),
    )


SQL_QUALITY_ROUTING = """
WITH base AS (
  SELECT doc_id, text,
    CAST(greatest(length(text), 1) AS DOUBLE) AS n,
    CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha_c,
    CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS space_c,
    len(list_filter(regexp_split_to_array(text, '\\s+'), w -> len(w) > 0)) AS wc
  FROM documents
), m AS (
  SELECT doc_id, alpha_c / n AS alpha, space_c / n AS space, wc,
    CASE WHEN wc > 0 THEN (CAST(length(text) AS DOUBLE) - space_c) / CAST(wc AS DOUBLE)
         ELSE CAST(0.0 AS DOUBLE) END AS awl
  FROM base
), sc AS (
  SELECT doc_id, alpha, wc,
    (((CASE WHEN alpha > 0.5 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
     + CASE WHEN space > 0.1 AND space < 0.3 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
     + CASE WHEN awl > 3 AND awl < 15 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
     + CASE WHEN wc > 10 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS score
  FROM m
)
SELECT doc_id,
  CASE WHEN score >= 0.7 THEN 'HIGH' WHEN score >= 0.4 THEN 'MEDIUM' ELSE 'LOW' END AS quality_level,
  coalesce(array_to_string(list_filter([
    CASE WHEN score < 0.4 THEN 'LOW_CONFIDENCE' END,
    CASE WHEN alpha < 0.5 THEN 'LOW_ALPHA_RATIO' END,
    CASE WHEN wc < 10 THEN 'SPARSE_TEXT' END,
    CASE WHEN 0.0 > 0.5 THEN 'HIGH_REPETITION' END
  ], x -> x IS NOT NULL), ','), '') AS flags
FROM sc
"""


def q_minhash_signature(spark, sf_dir):
    """First 4 minhash signature values per doc — deterministic md5-based
    hashing reproducible in ANSI SQL (md5 -> 60-bit int -> k affine mins)."""
    from .operators.dedup import add_minhash_signature

    df = add_minhash_signature(_spread(_docs(spark, sf_dir)), "text", k=4)
    return df.select(
        "doc_id",
        F.col("minhash")[0].alias("mh0"),
        F.col("minhash")[1].alias("mh1"),
        F.col("minhash")[2].alias("mh2"),
        F.col("minhash")[3].alias("mh3"),
    )


def _sql_minhash() -> str:
    from .operators.dedup import _P32, _minhash_params

    params = _minhash_params(4)
    cols = []
    for i, (a, b) in enumerate(params):
        cols.append(
            "coalesce(list_min(list_transform(sh, x -> (x % {p} * {a} + {b}) % {p})), {p}) AS mh{i}".format(
                p=_P32, a=a, b=b, i=i
            )
        )
    return f"""
WITH words AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> len(w) > 0) AS ws
  FROM documents
), shingles AS (
  SELECT doc_id,
    CASE WHEN len(ws) >= 3 THEN
      list_distinct(list_transform(range(1, len(ws) - 1),
        i -> array_to_string(ws[i:i+2], ' ')))
    WHEN len(ws) > 0 THEN [array_to_string(ws, ' ')]
    ELSE [] END AS sh_str
  FROM words
), hashed AS (
  SELECT doc_id,
    list_transform(sh_str, s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)) AS sh
  FROM shingles
)
SELECT doc_id, {", ".join(cols)}
FROM hashed
"""


# --------------------------------------------------------------------------
# UDF-backed queries. Most now have DuckDB oracles (oracles_sql.py); only the
# sequential scrub cascade (order-dependent numbered counters across 13 regex
# namespaces) stays rows-only — its correctness is the JS-parity harness +
# committed goldens + fuzz suites.
# --------------------------------------------------------------------------


def q_scrub_worker(spark, sf_dir):
    """Worker-rule-set scrub (scrubber.worker.ts — first stage of the
    App.tsx production composition) over a RESTRICTED probe built so every
    worker pattern fires exactly once on exactly the intended span (the
    technique pii_scrub uses): expected output is then a doc_id-derived
    string, mirrored in SQL (oracles_sql.SQL_PII_SCRUB_WORKER). The worker's
    forward-order counters advance on intermediate matches on arbitrary text
    (e.g. INSURANCE_ID fires on prose like 'group <token>'), which is why
    the probe is restricted; FULL worker semantics stay gated by the 500-doc
    goldens + adversarial fuzz vs the native-JS harness
    (tests/test_goldens.py)."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from .core.scrub_worker import scrub_text_worker

    out_type = StructType([
        StructField("scrubbed_text", StringType()),
        StructField("pii_count", IntegerType()),
    ])

    @row_udf(out_type)
    def worker_udf(text):
        out = scrub_text_worker(text or "")
        return out.text, out.count

    from .oracles_sql import worker_probe_expr

    df = _spread(_docs(spark, sf_dir)).withColumn("probe", worker_probe_expr())
    return df.select("doc_id", worker_udf(F.col("probe")).alias("w")).select(
        "doc_id", F.col("w.scrubbed_text").alias("scrubbed_text"),
        F.col("w.pii_count").alias("pii_count"),
    )


def q_markdown_sink(spark, sf_dir):
    """Markdown formatting (byte-exact reference layout)."""
    from pyspark.sql.types import StringType

    from .core.markdown import format_to_markdown

    @row_udf(StringType())
    def md_udf(text, doc_id):
        return format_to_markdown(
            source_file=f"doc-{doc_id}.txt", file_size_bytes=len(text or ""),
            file_type="text/plain", scrubbed_text=text or "", pii_count=0,
            processed_date_iso="2026-01-01T00:00:00.000Z",
        )

    df = _spread(_docs(spark, sf_dir))
    return df.select("doc_id", md_udf(F.col("text"), F.col("doc_id")).alias("markdown"))


def q_extraction(spark, sf_dir):
    """Structured extraction counts + WBC value/status per doc.

    The driver corpus has zero digits/uppercase (verified), so extraction
    over raw text is vacuously all-zero; both engines append the same
    deterministic clinical probe derived from doc_id (oracles_sql.SQL_PROBE)
    to exercise value parsing, status tiers, BP diastolic, '<' values, units,
    ICD-10 and modalities on varied rows."""
    from .operators.extraction_op import add_extraction
    from .oracles_sql import probe_expr

    docs = _spread(_docs(spark, sf_dir)).withColumn("probe", probe_expr())
    df = add_extraction(docs, "probe")
    wbc = F.try_element_at(
        F.filter("labs", lambda l: l["test"] == F.lit("WBC")), F.lit(1)
    )
    return df.select(
        "doc_id",
        F.size("labs").cast("long").alias("n_labs"),
        F.size("vitals").cast("long").alias("n_vitals"),
        F.size("icd10_codes").cast("long").alias("n_icd10"),
        F.size("modalities").cast("long").alias("n_modalities"),
        F.round(wbc["value"], 6).alias("wbc_value"),
        wbc["status"].alias("wbc_status"),
    )



def q_narrative(spark, sf_dir):
    """Deterministic narrative summaries composed from structured extraction
    (narrativeGeneration.ts template semantics, STANDARD verbosity)."""
    from pyspark.sql.types import StringType

    from .core.narrative import narrative_for_extraction
    from .operators.extraction_op import add_extraction

    @row_udf(StringType())
    def narrative_udf(labs, vitals, icd):
        return narrative_for_extraction(
            [(l["test"], l["value"], l["unit"], l["status"])
             for l in (labs if labs is not None else [])],
            [(v["vital"], v["value"]) for v in (vitals if vitals is not None else [])],
            list(icd if icd is not None else []),
        )

    from .oracles_sql import probe_expr

    docs = _spread(_docs(spark, sf_dir)).withColumn("probe", probe_expr())
    df = add_extraction(docs, "probe")
    return df.select(
        "doc_id",
        narrative_udf("labs", "vitals", "icd10_codes").alias("narrative"),
    )


def q_semantic_clusters(spark, sf_dir):
    """Connected-components clustering over high-cosine embedding pairs +
    cluster stats (semanticDedup semantics at scale)."""
    from .operators.clustering import lsh_semantic_clusters

    # flat scan (no _spread): the r7 per-query A/B measured the round-robin
    # exchange +22% on this 5k-row embedding table — the LSH bucket shuffle
    # immediately redistributes anyway (BENCH/spread_ab_r7.json).
    emb = _embeddings(spark, sf_dir)
    # Bucket-local union-find (one shuffle, no CC iteration): components
    # cannot span LSH buckets because each vector has exactly one signature.
    # exact all-pairs cosine lives on only as a small-n pytest oracle.
    clusters = lsh_semantic_clusters(emb, threshold=0.3, n_planes=6, dim=64)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return sizes.orderBy(F.desc("size"), F.asc("cluster_id")).limit(20).select(
        "cluster_id", F.col("size").cast("long").alias("size")
    )

def q_scrub(spark, sf_dir):
    """Effect-rule-set scrub over the deterministic PII probe (the raw corpus
    has no PII, so scrubbing it is the identity — vacuous). The probe gives
    each namespace at most one value per doc, so the expected scrubbed text
    is constructible and the oracle checks the cascade end-to-end; the full
    counter/ordering semantics stay golden/parity-gated."""
    from .operators.scrub_op import scrub_udf
    from .oracles_sql import pii_probe_expr

    df = _spread(_docs(spark, sf_dir)).withColumn("probe", pii_probe_expr())
    return df.select(
        "doc_id", scrub_udf(F.col("probe")).alias("s")
    ).select("doc_id", F.col("s.scrubbed_text").alias("scrubbed_text"),
             F.col("s.pii_count").cast("int").alias("pii_count"))


def q_simhash(spark, sf_dir):
    from .operators.scrub_op import simhash_udf

    return _spread(_docs(spark, sf_dir)).select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash")
    )


def q_perplexity(spark, sf_dir):
    from .operators.scrub_op import log_perplexity_udf

    return _spread(_docs(spark, sf_dir)).select(
        "doc_id", F.round(log_perplexity_udf(F.col("text")), 6).alias("log_ppl")
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    from .operators.dedup import add_minhash_signature, minhash_dedup_pairs

    # flat scan (no _spread): the r7 A/B measured the pre-UDF repartition
    # +11% here — the distinct-signature group and band shuffles dominate,
    # so the extra exchange never pays for itself (BENCH/spread_ab_r7.json).
    df = add_minhash_signature(_docs(spark, sf_dir), "text")
    pairs = minhash_dedup_pairs(df.withColumnRenamed("doc_id", "url"))
    return pairs.select(
        F.col("url_a").cast("long").alias("id_a"),
        F.col("url_b").cast("long").alias("id_b"),
        F.round("est_jaccard", 6).alias("est_jaccard"),
    )


def q_lsh_ann_topk(spark, sf_dir):
    from .operators.similarity import lsh_bucketed_topk

    emb = _spread(_embeddings(spark, sf_dir))
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_bucketed_topk(emb, queries, k=10, dim=64)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


# q_ivf_ann_topk and its oracle sql_ivf_ann_topk: centroids (the smallest
# vec_ids), cells each query probes, neighbours kept per query
IVF_CENTROIDS, IVF_PROBE, IVF_K = 16, 2, 10


def q_ivf_ann_topk(spark, sf_dir):
    """IVF-Flat ANN (third tier next to brute-force + hyperplane LSH):
    centroid 'training' is the deterministic smallest-id sample (vec_id <
    16) — a dimension-sized driver collect standing in for the offline
    k-means every IVF deployment runs before indexing; assignment, probing
    (n_probe=2) and within-cell exact ranking all run as native
    expressions/joins (operators/similarity.ivf_topk)."""
    from .operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    cent_rows = (
        emb.filter(F.col("vec_id") < IVF_CENTROIDS).select("vec_id", "embedding").collect()
    )
    centroids = [(int(r["vec_id"]), list(r["embedding"])) for r in cent_rows]
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=IVF_K, centroids=centroids, n_probe=IVF_PROBE)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN {NRM.format(a=a)} * {NRM.format(a=b)} > 0 "
        f"THEN {DOT.format(a=a, b=b)} / ({NRM.format(a=a)} * {NRM.format(a=b)}) "
        f"ELSE CAST(0.0 AS DOUBLE) END"
    )


def sql_ivf_ann_topk() -> str:
    """Mirror of q_ivf_ann_topk: same smallest-id centroids, same
    argmax-cosine assignment (ties -> lowest centroid id), same IVF_PROBE
    probing, exact ranking within probed cells on the UNROUNDED cosine
    (the Spark side ranks unrounded too), 6-decimal display rounding."""
    cos_ec = _cos_sql("e.embedding", "c.ce")
    cos_qc = _cos_sql("q.qe", "c.ce")
    cos_qs = _cos_sql("p.qe", "s.embedding")
    return f"""
WITH cent AS (
  SELECT vec_id AS j, embedding AS ce FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
), asg AS (
  SELECT e.vec_id, e.embedding, c.j,
    row_number() OVER (PARTITION BY e.vec_id ORDER BY {cos_ec} DESC, c.j ASC) AS rn
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, embedding, j AS cell FROM asg WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
), qasg AS (
  SELECT q.query_id, q.qe, c.j,
    row_number() OVER (PARTITION BY q.query_id ORDER BY {cos_qc} DESC, c.j ASC) AS rn
  FROM q CROSS JOIN cent c
), probes AS (
  SELECT query_id, qe, j AS cell FROM qasg WHERE rn <= {IVF_PROBE}
), cand AS (
  SELECT p.query_id, s.vec_id AS neighbor_id, {cos_qs} AS cosine
  FROM probes p JOIN cells s ON s.cell = p.cell
  WHERE s.vec_id != p.query_id
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
  CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {IVF_K}
"""


def q_lab_trend_summary(spark, sf_dir):
    """Lab trend classification (structuredExtraction.effect.ts:562-631)
    over the clinical probe, doc_id standing in for timestamp order.
    Labs-only extraction kernel (round 5): the trend aggregate reads only
    labs, so the vitals/ICD-10/modality passes are pruned at the UDF level
    — ~2x less parse work + Arrow transfer than extract_record_udf."""
    from .operators.extraction_op import extract_labs_udf, lab_trends
    from .oracles_sql import probe_expr

    docs = _spread(_docs(spark, sf_dir)).withColumn("probe", probe_expr())
    df = docs.withColumn("labs", extract_labs_udf(F.col("probe")))
    out = lab_trends(df, "doc_id", "doc_id")
    return out.select(
        "test",
        F.col("n").cast("long").alias("n"),
        F.round("first_v", 6).alias("first_v"),
        F.round("last_v", 6).alias("last_v"),
        F.round("min_v", 6).alias("min_v"),
        F.round("max_v", 6).alias("max_v"),
        "trend",
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal binary-column plumbing (operators/multimodal): the text
    payload plays the opaque media blob; the mapInPandas stage computes
    content hash + byte length + the deterministic stand-in features, and the
    oracle mirrors the arithmetic — proving the Arrow plumbing end to end."""
    from .operators.multimodal import extract_media_features

    docs = _spread(_docs(spark, sf_dir)).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    out = extract_media_features(docs)
    f = F.col("media.features")
    return out.select(
        "doc_id",
        F.col("media.sha256").alias("sha256"),
        F.col("media.byte_len").cast("long").alias("byte_len"),
        F.round(f[0].cast("double"), 6).alias("f0"),
        F.round(f[1].cast("double"), 6).alias("f1"),
        F.round(f[2].cast("double"), 6).alias("f2"),
    )


def q_media_decode(spark, sf_dir):
    """REAL media decode branches (round-3 verdict #8; round-5 closes the
    image gap): deterministic WAV (doc_id%5==0: 8-bit mono PCM, 8 kHz,
    samples (i*(doc_id+3)+7)%256), binary PPM (doc_id%5==1: (2+doc_id%6)x3
    RGB, raster byte j = (j+doc_id)%256), baseline JPEG (doc_id%5==2: 16x16
    grayscale, four 8x8 blocks of constant value (doc_id*17+b*29)%256,
    quant table all-ones so the DC-only blocks round-trip EXACTLY through
    the full Huffman+IDCT path — core.jpeg_codec), PNG (doc_id%5==3:
    5x4 RGB, pixel byte j = (7*j+doc_id)%256 — lossless zlib+filters, so
    ANY payload round-trips exactly — core.png_codec) and GIF (doc_id%5==4:
    (3+doc_id%4)x3, palette of 4+doc_id%5 colors with channel-c entry
    (k*(11+2c)+doc_id)%256, pixel j index (j+doc_id)%n_colors, odd doc_ids
    written 4-pass INTERLACED — LZW is lossless and the decoder
    de-interlaces, so features are closed-form — core.gif_codec) payloads
    are synthesized per doc, then parsed back by the pure-Python codecs
    through the same mapInPandas operator as every other media payload.
    Features are exact integer sums + one division, so the DuckDB oracle
    reproduces them in closed form — an end-to-end
    encode->decode->feature proof."""
    import numpy as np
    from pyspark.sql.types import BinaryType

    from .core.gif_codec import encode_gif
    from .core.jpeg_codec import encode_jpeg
    from .core.media_codecs import encode_ppm, encode_wav
    from .core.png_codec import encode_png
    from .operators.multimodal import extract_media_features

    @row_udf(BinaryType())
    def synth_media(did):
        did = int(did)
        if did % 5 == 0:
            n = 64 + did % 32
            samples = [(i * (did + 3) + 7) % 256 for i in range(n)]
            return encode_wav(samples, rate=8000, bits=8)
        if did % 5 == 1:
            w = 2 + did % 6
            raster = bytes((j + did) % 256 for j in range(w * 3 * 3))
            return encode_ppm(raster, w, 3)
        if did % 5 == 2:
            img = np.empty((16, 16), dtype=np.uint8)
            for b in range(4):
                v = (did * 17 + b * 29) % 256
                img[(b // 2) * 8 : (b // 2) * 8 + 8,
                    (b % 2) * 8 : (b % 2) * 8 + 8] = v
            return encode_jpeg(img.tobytes(), 16, 16, quant_val=1)
        if did % 5 == 3:
            raster = bytes((7 * j + did) % 256 for j in range(5 * 4 * 3))
            # odd doc_ids Adam7-interlaced: lossless either way, same oracle
            return encode_png(raster, 5, 4, channels=3, interlace=bool(did % 2))
        w = 3 + did % 4
        nc = 4 + did % 5
        pal = bytes(
            (k * (11 + 2 * c) + did) % 256
            for k in range(nc)
            for c in range(3)
        )
        idx = bytes((j + did) % nc for j in range(w * 3))
        return encode_gif(idx, w, 3, pal, interlace=bool(did % 2))

    docs = _spread(_docs(spark, sf_dir)).select("doc_id")
    out = extract_media_features(docs.withColumn("payload", synth_media("doc_id")))
    f = F.col("media.features")
    return out.select(
        "doc_id",
        F.col("media.codec").alias("codec"),
        F.col("media.width").alias("width"),
        F.col("media.height").alias("height"),
        F.col("media.duration_ms").alias("duration_ms"),
        F.round(F.get(f, 0).cast("double"), 6).alias("f0"),
        F.round(F.get(f, 1).cast("double"), 6).alias("f1"),
        F.round(F.get(f, 2).cast("double"), 6).alias("f2"),  # NULL for wav
        F.col("media.error").alias("error"),
    )


SQL_MEDIA_DECODE = """
WITH wav AS (
  SELECT doc_id, 64 + (doc_id % 32) AS n FROM documents WHERE doc_id % 5 = 0
), wav_v AS (
  SELECT w.doc_id, w.n, (t.i * (w.doc_id + 3) + 7) % 256 AS v
  FROM wav w, unnest(range(0, w.n)) AS t(i)
), wav_f AS (
  SELECT doc_id, 'wav' AS codec,
    CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
    CAST(floor(n / 8.0) AS INT) AS duration_ms,
    (SUM(v) - 128 * n) / (128.0 * n) AS f0d,
    sqrt(SUM((v - 128) * (v - 128)) / (16384.0 * n)) AS f1d,
    CAST(NULL AS DOUBLE) AS f2d
  FROM wav_v GROUP BY doc_id, n
), ppm AS (
  SELECT doc_id, 2 + (doc_id % 6) AS w FROM documents WHERE doc_id % 5 = 1
), ppm_v AS (
  SELECT p.doc_id, p.w,
    (3 * t.k + 0 + p.doc_id) % 256 AS r,
    (3 * t.k + 1 + p.doc_id) % 256 AS g,
    (3 * t.k + 2 + p.doc_id) % 256 AS b
  FROM ppm p, unnest(range(0, p.w * 3)) AS t(k)
), ppm_f AS (
  SELECT doc_id, 'ppm' AS codec,
    CAST(w AS INT) AS width, CAST(3 AS INT) AS height,
    CAST(NULL AS INT) AS duration_ms,
    SUM(r) / (255.0 * w * 3) AS f0d,
    SUM(g) / (255.0 * w * 3) AS f1d,
    SUM(b) / (255.0 * w * 3) AS f2d
  FROM ppm_v GROUP BY doc_id, w
), jpg AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 2
), jpg_v AS (
  -- four constant-valued 8x8 blocks; quant table all-ones makes the
  -- Huffman+IDCT round-trip EXACT (core/jpeg_codec.py module doc), so the
  -- decoded mean is closed-form: sum over blocks of 64 * block value
  SELECT j.doc_id, (j.doc_id * 17 + t.b * 29) % 256 AS v
  FROM jpg j, unnest(range(0, 4)) AS t(b)
), jpg_f AS (
  SELECT doc_id, 'jpeg' AS codec,
    CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
    CAST(NULL AS INT) AS duration_ms,
    SUM(v * 64) / (255.0 * 256) AS f0d,
    CAST(NULL AS DOUBLE) AS f1d,
    CAST(NULL AS DOUBLE) AS f2d
  FROM jpg_v GROUP BY doc_id
), png AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 3
), png_v AS (
  -- PNG is LOSSLESS (zlib + filters), so the 5x4 RGB raster byte formula
  -- is the decoded raster exactly — no round-trip caveats at all
  SELECT p.doc_id,
    (7 * (3 * t.k + 0) + p.doc_id) % 256 AS r,
    (7 * (3 * t.k + 1) + p.doc_id) % 256 AS g,
    (7 * (3 * t.k + 2) + p.doc_id) % 256 AS b
  FROM png p, unnest(range(0, 20)) AS t(k)
), png_f AS (
  SELECT doc_id, 'png' AS codec,
    CAST(5 AS INT) AS width, CAST(4 AS INT) AS height,
    CAST(NULL AS INT) AS duration_ms,
    SUM(r) / (255.0 * 20) AS f0d,
    SUM(g) / (255.0 * 20) AS f1d,
    SUM(b) / (255.0 * 20) AS f2d
  FROM png_v GROUP BY doc_id
), gif AS (
  SELECT doc_id, 3 + (doc_id % 4) AS w, 4 + (doc_id % 5) AS nc
  FROM documents WHERE doc_id % 5 = 4
), gif_v AS (
  -- GIF is LOSSLESS (variable-width LZW over palette indices) and the
  -- decoder de-interlaces, so the palette-mapped raster is closed-form:
  -- pixel j -> palette entry k=(j+doc_id)%nc, channel c -> (k*(11+2c)+did)%256
  SELECT g.doc_id, g.w, g.nc, ((t.j + g.doc_id) % g.nc) AS k
  FROM gif g, unnest(range(0, g.w * 3)) AS t(j)
), gif_f AS (
  SELECT doc_id, 'gif' AS codec,
    CAST(w AS INT) AS width, CAST(3 AS INT) AS height,
    CAST(NULL AS INT) AS duration_ms,
    SUM((k * 11 + doc_id) % 256) / (255.0 * w * 3) AS f0d,
    SUM((k * 13 + doc_id) % 256) / (255.0 * w * 3) AS f1d,
    SUM((k * 15 + doc_id) % 256) / (255.0 * w * 3) AS f2d
  FROM gif_v GROUP BY doc_id, w
)
SELECT doc_id, codec, width, height, duration_ms,
  round(CAST(CAST(f0d AS FLOAT) AS DOUBLE), 6) AS f0,
  round(CAST(CAST(f1d AS FLOAT) AS DOUBLE), 6) AS f1,
  round(CAST(CAST(f2d AS FLOAT) AS DOUBLE), 6) AS f2,
  CAST(NULL AS VARCHAR) AS error
FROM (SELECT * FROM wav_f UNION ALL SELECT * FROM ppm_f
      UNION ALL SELECT * FROM jpg_f UNION ALL SELECT * FROM png_f
      UNION ALL SELECT * FROM gif_f)
"""


def q_doc_embed_neardup(spark, sf_dir):
    """Embedding-cosine near-dup over the documents table (semanticDedup
    tiers): hash-encoder embeddings (chunk/pool/normalize — the gated real
    model swaps in transparently), hyperplane-LSH bucketed pairs, tier
    labels. Threshold 0.75 picks the related+ band that yields a non-trivial
    but non-quadratic result on the driver corpus."""
    from .operators.embed_op import add_embeddings
    from .operators.similarity import lsh_cosine_pairs_fast

    docs = _spread(_docs(spark, sf_dir)).select("doc_id", "text")
    emb = add_embeddings(docs, "text")
    # bucket-local numpy pairs with exact-fold boundary refinement — ~50x
    # the per-pair expression-fold path; cosine comes back pre-rounded
    pairs = lsh_cosine_pairs_fast(
        emb, threshold=0.75, id_col="doc_id", n_planes=6, dim=64,
    )
    return pairs.select("id_a", "id_b", "cosine", "tier")


def q_scrub_audit(spark, sf_dir):
    """Per-document audit report (auditCollector.ts:19-149): per-pattern
    entries with durations inside the operator; the query projects the
    deterministic summary block + the hit-pattern list, verified against the
    oracle's expected arithmetic over the same PII probe (the raw corpus has
    no PII — see oracles_sql.pii_probe_expr)."""
    from .operators.audit_op import scrub_audit
    from .oracles_sql import pii_probe_expr

    docs = _spread(_docs(spark, sf_dir)).withColumn("probe", pii_probe_expr())
    out = scrub_audit(docs, "probe")
    hits = F.array_join(
        F.transform(
            F.filter("entries", lambda e: e["match_count"] > 0),
            lambda e: e["pattern_type"],
        ),
        ",",
    )
    return out.select(
        "doc_id",
        F.col("total_detections").cast("int").alias("total_detections"),
        F.col("pii_chars_removed").cast("int").alias("pii_chars_removed"),
        "pii_density_percent",
        F.col("size_change_bytes").cast("int").alias("size_change_bytes"),
        "avg_pii_length",
        hits.alias("patterns_hit"),
    )


def q_yaml_sink(spark, sf_dir):
    """YAML compression sink (services/compression/yaml.ts): one
    CompressedTimeline YAML document per user over the events table, exact
    builder layout; metadata derived deterministically from the event count,
    generatedAt fixed (the reference stamps new Date())."""
    from pyspark.sql.types import StringType

    from .core.yaml_sink import generate_yaml
    from .oracles_sql import YAML_GENERATED_AT

    ev = _events(spark, sf_dir)
    # explicit-width repartition on the group key: the per-user YAML render
    # is Python-heavy over few bytes, and AQE's byte-based coalescing would
    # otherwise collapse the collect_list shuffle to ~1 post-shuffle
    # partition at bench scale, serializing agg + render on one task.
    # REPARTITION_BY_NUM is AQE-exempt and satisfies the groupBy clustering
    # requirement, so no second exchange is added.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    agg = ev.repartition(n_parts, "user_id").groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs"),
        F.count("*").cast("int").alias("n"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )

    @row_udf(StringType())
    def yaml_udf(uid, evs, n, mn, mx):
        events = [
            (e["event_id"], str(e["ts"])[:10], e["event_type"],
             f"doc-{e['event_id']}", 1)
            for e in evs
        ]
        return generate_yaml(
            patient_id=uid,
            age_at_first_visit=int(20 + uid % 60),
            date_start_iso=str(mn)[:10],
            date_end_iso=str(mx)[:10],
            duration_days=int((mx - mn).total_seconds() // 86400),
            total_documents=int(n),
            total_events=int(n),
            events=events,
            original_size_kb=n * 0.2,
            compressed_size_kb=n * 0.1,
            ratio=0.5,
            events_total=int(n),
            events_included=int(n),
            deduplication="exact",
            generated_at_iso=YAML_GENERATED_AT,
        )

    return agg.select(
        "user_id", yaml_udf("user_id", "evs", "n", "mn", "mx").alias("yaml")
    )


def q_timeline_report(spark, sf_dir):
    """Master-timeline markdown (timelineOrganizer.effect.ts:345-452) per
    user over events — the reference's flagship corpus output. The per-user
    report string is built by operators.report.timeline_markdown inside an
    Arrow-grouped UDF."""
    from pyspark.sql.types import StringType

    from .operators.report import timeline_markdown

    ev = _events(spark, sf_dir)
    # same AQE-exempt repartition rationale as q_yaml_sink above
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    agg = ev.repartition(n_parts, "user_id").groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type", "value"))
        ).alias("evs"),
        F.count("*").cast("long").alias("n"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )

    FMT = "%Y-%m-%d %H:%M:%S.%f"

    @row_udf(StringType())
    def report_udf(n, mn, mx, evs):
        summary = {
            "total_documents": int(n),
            "duplicates": 0,
            "date_start": mn.strftime(FMT),
            "date_end": mx.strftime(FMT),
        }
        docs = [
            {
                "document_number": i + 1,
                "url": f"doc-{e['event_id']}",
                "doc_type": e["event_type"],
                "warc_ts": e["ts"].strftime(FMT),
                "scrubbed_text": f"value: {e['value']}",
            }
            for i, e in enumerate(evs)
        ]
        return timeline_markdown(summary, docs)

    return agg.select(
        "user_id", report_udf("n", "mn", "mx", "evs").alias("report")
    )


def q_whitelist_extraction(spark, sf_dir):
    """Whitelist medical extraction (services/whitelist/ — the reference's
    second, extraction-based engine): nested ExtractedMedicalRecord per doc,
    flattened to counts + one representative value per clinical category.

    Probe-driven expected-output oracle (driver corpus has no clinical
    content): both engines see the same deterministic doc_id-derived probe
    cycling all five document types; the Spark side runs the REAL extractor
    (core/whitelist.py, JS-parity-proven vs tools/whitelist_harness.mjs);
    the DuckDB side mirrors the expected outputs arithmetically
    (oracles_sql.sql_whitelist_extraction)."""
    from .operators.whitelist_op import add_whitelist_extraction
    from .oracles_sql import whitelist_probe_expr

    docs = _spread(_docs(spark, sf_dir)).withColumn("probe", whitelist_probe_expr())
    df = add_whitelist_extraction(docs, "probe", as_of_date="2026-01-01")
    r = F.col("medical_record")
    panel1 = F.try_element_at(r["lab_panels"], F.lit(1))
    lab1 = F.try_element_at(panel1["results"], F.lit(1))
    lab2 = F.try_element_at(panel1["results"], F.lit(2))
    med1 = F.try_element_at(r["medications"], F.lit(1))
    dx1 = F.try_element_at(r["diagnoses"], F.lit(1))
    img1 = F.try_element_at(r["imaging_findings"], F.lit(1))
    path1 = F.try_element_at(r["pathology"], F.lit(1))
    vit1 = F.try_element_at(r["vital_signs"], F.lit(1))
    return df.select(
        "doc_id",
        r["document_type"].alias("document_type"),
        r["document_date"].alias("document_date"),
        r["extraction_confidence"].cast("long").alias("confidence"),
        F.aggregate(
            r["lab_panels"], F.lit(0),
            lambda acc, p: acc + F.size(p["results"]),
        ).cast("long").alias("n_labs"),
        F.size(r["medications"]).cast("long").alias("n_meds"),
        F.size(r["diagnoses"]).cast("long").alias("n_dx"),
        F.size(r["imaging_findings"]).cast("long").alias("n_imaging"),
        F.size(r["vital_signs"]).cast("long").alias("n_vitals"),
        F.size(r["pathology"]).cast("long").alias("n_path"),
        lab1["test_name"].alias("lab1_name"),
        lab1["value"].alias("lab1_value"),
        lab1["unit"].alias("lab1_unit"),
        lab1["reference_range"].alias("lab1_ref"),
        lab1["status"].alias("lab1_status"),
        lab2["status"].alias("lab2_status"),
        panel1["collection_date"].alias("panel_date"),
        med1["name"].alias("med1_name"),
        med1["dose"].alias("med1_dose"),
        med1["route"].alias("med1_route"),
        med1["frequency"].alias("med1_freq"),
        dx1["condition"].alias("dx1_condition"),
        dx1["severity"].alias("dx1_severity"),
        img1["modality"].alias("img_modality"),
        img1["body_part"].alias("img_body_part"),
        path1["specimen_type"].alias("path_specimen"),
        path1["diagnosis"].alias("path_diagnosis"),
        path1["grade"].alias("path_grade"),
        path1["margins"].alias("path_margins"),
        vit1["blood_pressure_systolic"].cast("long").alias("vit_bp_sys"),
        vit1["blood_pressure_diastolic"].cast("long").alias("vit_bp_dia"),
        vit1["heart_rate"].cast("long").alias("vit_hr"),
        vit1["respiratory_rate"].cast("long").alias("vit_rr"),
    )


def q_whitelist_timeline(spark, sf_dir):
    """buildMasterTimelineV2 (extractionPipeline.effect.ts:230-259) per
    doc_id bucket over the whitelist probe. The markdown itself is byte-gated
    vs the native-JS harness in pytest (tests/golden/whitelist_golden.json);
    here the DRIVER oracle checks structural invariants extracted from the
    REAL rendered markdown: one '### ' document section per doc, one lab
    table per lab-report doc, and the stats-block extraction counts — all
    arithmetically derivable from doc_id, so a formatter drift (dropped
    section, broken stats block) hash-mismatches."""
    from .operators.whitelist_op import whitelist_timeline_v2
    from .oracles_sql import whitelist_probe_expr

    docs = (
        _docs(spark, sf_dir)
        .withColumn("probe", whitelist_probe_expr())
        .withColumn("bucket", (F.col("doc_id") % 25).cast("string"))
        .withColumn("fname", F.concat(F.lit("probe_"), F.col("doc_id"), F.lit(".txt")))
    )
    tl = whitelist_timeline_v2(
        docs, "bucket", "doc_id", "fname", "probe",
        as_of_date="2026-01-01", generated_at="2026-01-01T00:00:00.000Z",
    )
    md = F.col("markdown")
    return tl.select(
        "group_key",
        F.col("total_documents").cast("long").alias("total_documents"),
        F.col("unique_documents").cast("long").alias("unique_documents"),
        F.col("duplicates").cast("long").alias("duplicates"),
        (F.length(md) - F.length(F.replace(md, F.lit("\n### "), F.lit(""))))
        .cast("long").alias("section_chars"),
        (
            (F.length(md) - F.length(F.replace(md, F.lit("**Collection Date**: "), F.lit(""))))
            / F.lit(len("**Collection Date**: "))
        ).cast("long").alias("n_lab_tables"),
        F.regexp_extract(md, r"- Lab results extracted: (\d+)", 1)
        .cast("long").alias("stats_labs"),
        F.regexp_extract(md, r"- Medications extracted: (\d+)", 1)
        .cast("long").alias("stats_meds"),
        F.regexp_extract(md, r"- Diagnoses extracted: (\d+)", 1)
        .cast("long").alias("stats_dx"),
    )


def q_pipeline_flagship(spark, sf_dir):
    """Full webtext pipeline over documents mapped into the input-hint shape."""
    from .plans.pipeline import run_pipeline

    df = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.to_timestamp(F.lit("2025-06-01 00:00:00")).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
    )
    res = run_pipeline(df)
    return res.output.select(
        "url", "scrubbed_text", "pii_count", "lang_pred",
        F.round("quality_score", 6).alias("quality_score"),
        F.round("relevance_score", 6).alias("relevance_score"),
        "recommendation", "content_hash", "simhash", "difference_type",
    )


def q_host_cap(spark, sf_dir):
    """Skew-safe per-host document cap (keep best 10 per host by n_chars
    desc, doc_id tiebreak). Production path is the salted two-phase top-N
    (operators/sampling.py:host_cap_topn); the oracle is the naive single
    window, so the rewrite's equivalence is re-proven every round."""
    from .operators.sampling import host_cap_topn

    out = host_cap_topn(
        _docs(spark, sf_dir),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        n=10,
    )
    return out.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_dup_span_strip(spark, sf_dir):
    """Cross-document duplicate-span removal (Lee et al. 2022 style): drop
    every word covered by a 3-gram appearing in >= 5 distinct docs. Oracle
    is the naive materialize-every-gram SQL definition."""
    from .operators.sampling import dup_span_strip

    out = dup_span_strip(_spread(_docs(spark, sf_dir)), n=3, min_df=5)
    return out.select(
        "doc_id",
        "cleaned_text",
        F.col("n_words_kept").cast("long").alias("n_words_kept"),
        F.col("n_words_dropped").cast("long").alias("n_words_dropped"),
    )


def q_chunk_dedup(spark, sf_dir):
    """C4-style cross-document span dedup at 5-word-chunk granularity:
    keep the globally-first occurrence of every distinct chunk. Production
    path is a map-side-combinable min(struct) aggregate with no window over
    the chunk (operators/sampling.py:chunk_dedup); the oracle is the naive
    row_number-over-chunk definition."""
    from .operators.sampling import chunk_dedup

    return chunk_dedup(_spread(_docs(spark, sf_dir)), chunk_words=5)


def q_stratified_sample(spark, sf_dir):
    """Deterministic quota downsampling of over-represented languages
    (cap=100 docs/lang) via a portable integer-LCG hash predicate shared
    bit-for-bit with the DuckDB oracle."""
    from .operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), "lang", cap=100
    ).select("doc_id", "lang")


QUERIES = {
    "quality_score": q_quality_score,
    "relevance_label": q_relevance_label,
    "langid_heuristic": q_langid,
    "content_hash": q_content_hash,
    "exact_dedup": q_exact_dedup,
    "token_stats": q_token_stats,
    "doc_type": q_doc_type,
    "extract_dates": q_extract_dates,
    "jaccard_pairs": q_jaccard_pairs,
    "jaccard_group_edges": q_jaccard_group_edges,
    "ann_cosine_topk": q_ann_topk,
    "event_timeline": q_event_timeline,
    "event_lag_trend": q_event_lag_trend,
    "event_summary": q_event_summary,
    "event_topk_users": q_event_topk_users,
    "header_mode": q_header_mode,
    "template_lines": q_template_lines,
    "template_ngram_strip": q_template_ngram_strip,
    "compression_summary": q_compression_summary,
    "quality_routing": q_quality_routing,
    "minhash_signature": q_minhash_signature,
    "pii_scrub": q_scrub,
    "pii_scrub_worker": q_scrub_worker,
    "markdown_sink": q_markdown_sink,
    "structured_extraction": q_extraction,
    "narrative": q_narrative,
    "semantic_clusters": q_semantic_clusters,
    "simhash": q_simhash,
    "perplexity": q_perplexity,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "lab_trend_summary": q_lab_trend_summary,
    "multimodal_features": q_multimodal_features,
    "media_decode": q_media_decode,
    "doc_embed_neardup": q_doc_embed_neardup,
    "scrub_audit": q_scrub_audit,
    "yaml_sink": q_yaml_sink,
    "timeline_report": q_timeline_report,
    "whitelist_extraction": q_whitelist_extraction,
    "whitelist_timeline": q_whitelist_timeline,
    "pipeline_flagship": q_pipeline_flagship,
    "host_cap": q_host_cap,
    "dup_span_strip": q_dup_span_strip,
    "chunk_dedup": q_chunk_dedup,
    "stratified_sample": q_stratified_sample,
}


def oracle_map() -> dict:
    from . import oracles_sql as o2

    return {
        "quality_score": SQL_QUALITY,
        "relevance_label": _sql_relevance(),
        "langid_heuristic": _sql_langid(),
        "content_hash": SQL_CONTENT_HASH,
        "exact_dedup": SQL_EXACT_DEDUP,
        "token_stats": SQL_TOKEN_STATS,
        "doc_type": SQL_DOC_TYPE,
        "extract_dates": SQL_EXTRACT_DATES,
        "jaccard_pairs": SQL_JACCARD_PAIRS,
        "jaccard_group_edges": SQL_JACCARD_GROUP_EDGES,
        "ann_cosine_topk": SQL_ANN_TOPK,
        "event_timeline": SQL_EVENT_TIMELINE,
        "event_lag_trend": SQL_EVENT_LAG_TREND,
        "event_summary": SQL_EVENT_SUMMARY,
        "event_topk_users": SQL_EVENT_TOPK_USERS,
        "header_mode": SQL_HEADER_MODE,
        "template_lines": o2.SQL_TEMPLATE_LINES,
        "template_ngram_strip": o2.sql_template_ngram_strip(),
        "compression_summary": o2.sql_compression_summary(),
        "quality_routing": SQL_QUALITY_ROUTING,
        "minhash_signature": _sql_minhash(),
        # round-2 oracles for the former rows-only queries
        "markdown_sink": o2.sql_markdown(),
        "structured_extraction": o2.sql_structured_extraction(),
        "narrative": o2.sql_narrative(),
        "simhash": o2.sql_simhash(),
        "lsh_ann_topk": o2.sql_lsh_ann_topk(dim=64, n_planes=8, k=10),
        "ivf_ann_topk": sql_ivf_ann_topk(),
        "minhash_lsh_pairs": o2.sql_minhash_lsh_pairs(k=32, bands=8),
        "perplexity": o2.sql_perplexity(),
        "semantic_clusters": o2.sql_semantic_clusters(dim=64, n_planes=6, threshold=0.3),
        "scrub_audit": o2.sql_scrub_audit(),
        "yaml_sink": o2.sql_yaml_sink(),
        "doc_embed_neardup": o2.sql_doc_embed_neardup(),
        "lab_trend_summary": o2.sql_lab_trend_summary(),
        "multimodal_features": o2.SQL_MULTIMODAL,
        "media_decode": SQL_MEDIA_DECODE,
        "pii_scrub": o2.SQL_PII_SCRUB,
        "pii_scrub_worker": o2.SQL_PII_SCRUB_WORKER,
        "timeline_report": o2.sql_timeline_report(),
        "whitelist_extraction": o2.sql_whitelist_extraction(),
        "whitelist_timeline": o2.sql_whitelist_timeline(),
        "host_cap": o2.sql_host_cap(n=10),
        "dup_span_strip": o2.sql_dup_span_strip(n=3, min_df=5),
        "chunk_dedup": o2.sql_chunk_dedup(chunk_words=5),
        "stratified_sample": o2.sql_stratified_sample(cap=100),
        # expected-output oracle: committed full-row golden at the driver's
        # correctness sf (0.01); see tools/gen_flagship_oracle_pure.py
        "pipeline_flagship": o2.sql_pipeline_flagship(),
    }
