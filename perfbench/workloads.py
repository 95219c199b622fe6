"""The two workloads. Each builds its input from the seed, runs an untimed
warm-up, times runs through Bench.timed, checks outputs outside the timed
region, and in traced runs times each layer's public entry points from
outside (layers()).

A run of this benchmark has about 70 s on average: its budget is 3420 s
for 4 + 22 x (workloads) runs. On 4 cores a Spark session takes
8-15 s to start, and each workload's first run pays 15-40 s of first-use
costs, which the warm-up absorbs. Work that does not fit that budget runs
only in the traced runs, timed as layers:
  - the streaming drain, in flagship's traced run: a micro-batch costs
    10-14 s (~3 s planning, the rest addBatch) and the closing no-data
    batch ~8 s, so a stream workload of its own (session, warm-up drain,
    timed drain) would take ~95 s a run;
  - four corpus queries, in corpus_ops' traced run: template_ngram_strip
    and compression_summary (a warm pass of the two takes ~12 s at 600
    docs) and jaccard_group_edges and minhash_lsh_pairs (~20 s on first
    run).

A traced run prints every per-layer metric the benchmark declares. A layer
its workload never calls (WORKLOAD_LAYERS of the other workload) reads 0:
no time was spent there and nothing was counted."""

from __future__ import annotations

import json
import os
import random
import time

import pandas as pd
import pyarrow.parquet as pq

import checks
import inputs
import probes

# Sizes chosen from measured runs on 4 cores. A flagship run is mostly
# per-job overhead at this size (~5.5 s at 650 docs, ~13 s at 2.2k docs);
# at 650 docs label_stage and write_output take 54% of the traced flagship
# wall time. A pass of the four timed corpus queries over 200 docs takes
# ~4.5 s.
FLAGSHIP_DOCS = 600    # base rows; ~8% injected duplicates come on top
CORPUS_DOCS = 200
WARMUP_PASSES = 1       # corpus_ops: untimed noop passes after the checked one
STREAM_FILES = 1        # one file per micro-batch (maxFilesPerTrigger=1)
STREAM_TIMEOUT_S = 150
CORE_SAMPLE = 200
TABLE = "flagship"

QUERY_LAYERS = {
    "template_ngram_strip": "operators.template.ngram_strip_s",
    "compression_summary": "operators.template.compression_summary_s",
    "template_lines": "operators.template.lines_s",
    "jaccard_group_edges": "operators.dedup.jaccard_group_edges_s",
    "minhash_lsh_pairs": "operators.dedup.minhash_lsh_pairs_s",
    "exact_dedup": "operators.dedup.exact_dedup_s",
    "dup_span_strip": "operators.sampling.dup_span_strip_s",
    "chunk_dedup": "operators.sampling.chunk_dedup_s",
}
TRACED_QUERIES = ("template_ngram_strip", "compression_summary", "jaccard_group_edges",
                  "minhash_lsh_pairs")
TIMED_QUERIES = tuple(q for q in QUERY_LAYERS if q not in TRACED_QUERIES)
CORE_KERNELS = ("scrub", "quality", "langid", "perplexity", "relevance",
                "hashing", "extract")

# per-layer metrics that only one workload's traced run measures
WORKLOAD_LAYERS = {
    **{f"core.{k}.us_per_doc": "us" for k in CORE_KERNELS},
    "operators.scrub_op.doc_features_us_per_doc": "us",
    "plans.label_stage_s": "s",
    "plans.finish_pipeline_s": "s",
    "plans.metrics_s": "s",
    "operators.dedup.verdicts_s": "s",
    "sources.io.write_output_s": "s",
    "sources.io.files_written": "count",
    "sources.io.output_mb": "MB",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    **{name: "s" for name in QUERY_LAYERS.values()},
}


def _clock(fn):
    t0 = time.perf_counter()
    value = fn()
    return value, time.perf_counter() - t0


def _noop(df) -> None:
    # the noop sink evaluates every column; count() would prune UDF columns
    df.write.format("noop").mode("overwrite").save()


def _plan_counts(plans) -> dict:
    total = dict.fromkeys(probes.PLAN_NODES, 0)
    for plan in plans:
        for k, v in probes.plan_node_counts(plan).items():
            total[k] += v
    return {k: (v, "count") for k, v in total.items()}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class Flagship:
    """plans.pipeline.run_pipeline over a seeded webpage corpus; the timed
    action is sources.io.write_output into a fresh warehouse plus a collect
    of the per-crawl_date metrics. A closed loop of MIN_REPS runs; each run
    is one batch."""

    MIN_REPS = 3

    def __init__(self, bench, n_docs=None):
        self.b = bench
        self.rows = inputs.flagship_rows(n_docs or FLAGSHIP_DOCS, bench.seed)
        self.n_docs = len(self.rows)
        self.input_dir = bench.path("webpages")
        inputs.write_webpages(self.rows, self.input_dir)
        self.ref = checks.reference_labels(self.rows)
        self.f1, self.exact, self.batch_s = [], [], []
        self.plans = []     # physical plans of the last timed run

    def _pipeline(self, warehouse):
        from scrubah_pii_spark.plans.pipeline import run_pipeline
        from scrubah_pii_spark.sources.io import write_output

        res = run_pipeline(self.b.spark.read.parquet(self.input_dir))
        write_output(res.output, warehouse, TABLE)
        return res, res.metrics.collect()

    def warmup(self) -> float:
        # the engine's CPU per run still falls over the first three runs
        # (~11, 10, 9 s) while the JIT compiles; a second warm-up run takes
        # most of that drift out of the timed runs
        return self.run(None) + self.run(None)

    def run(self, group) -> float:
        """One run; group is its job group (probes), or None for the warm-up.
        Only runs of probes.TIMED_GROUP are sampled."""
        wh = self.b.fresh_dir("warehouse")
        if group is None:
            (res, metrics), seconds = _clock(lambda: self._pipeline(wh))
        else:
            (res, metrics), seconds = self.b.timed(lambda: self._pipeline(wh), group)
            if group == probes.TIMED_GROUP:
                self.batch_s.append(seconds)
                self.plans = [_executed_plan(res.output), _executed_plan(res.metrics)]
        self.b.attempt(True, "flagship run")
        self._check(res, metrics, wh)
        self.b.hygiene()
        return seconds

    def _check(self, res, metrics, wh) -> None:
        keep = {r["url"]: r["recommendation"] != "discard"
                for r in res.labeled.select("url", "recommendation").collect()}
        out = pq.read_table(os.path.join(wh, TABLE), columns=["url", "scrubbed_text"])
        texts = list(zip(out.column("url").to_pylist(), out.column("scrubbed_text").to_pylist()))
        f1, exact, failures = checks.check_docs("flagship", keep, texts, self.ref, kept_only=True)
        self.f1.append(f1)
        self.exact.append(exact)
        self.b.attempt(not failures, "; ".join(failures))
        self.b.attempt(sum(m["docs_in"] for m in metrics) == self.n_docs,
                       "flagship metrics count every input doc")

    # -- traced run -------------------------------------------------------

    def layers(self) -> dict:
        out = core_layer(self.rows, self.b.seed)
        plans, batch_labels = self._plans_layer()
        out.update(plans)
        out.update(stream_layer(self.b, self.rows, batch_labels))
        out.update(_plan_counts(self.plans))
        return out

    def _plans_layer(self) -> tuple:
        """Each stage of the pipeline timed on its own, over the cached
        labeled frame; returns the metrics and the labels by url."""
        from pyspark.sql import functions as F

        from scrubah_pii_spark.functions.hashing_expr import content_hash_expr
        from scrubah_pii_spark.operators.dedup import dedup_verdicts_fused
        from scrubah_pii_spark.plans.pipeline import finish_pipeline, label_stage
        from scrubah_pii_spark.sources.io import write_output

        wh = self.b.fresh_dir("layer_warehouse")
        labeled = label_stage(self.b.spark.read.parquet(self.input_dir)).persist()
        _, label_s = _clock(lambda: _noop(labeled))
        slim = labeled.filter(F.col("recommendation") != "discard").select(
            "url", "warc_ts", "doc_type", "simhash",
            content_hash_expr(F.col("scrubbed_text")).alias("content_hash"))
        _, verdicts_s = _clock(lambda: _noop(dedup_verdicts_fused(slim)))
        res = finish_pipeline(labeled)
        output = res.output.persist()
        _, finish_s = _clock(lambda: _noop(output))
        _, write_s = _clock(lambda: write_output(output, wh, TABLE))
        _, metrics_s = _clock(lambda: res.metrics.collect())
        labels = {r["url"]: r.asDict() for r in labeled.select(
            "url", "lang_pred", "quality_score", "gates_pass", "scrubbed_text",
            "pii_count", "relevance_score", "recommendation", "generation").collect()}
        self.b.hygiene(record=False)

        files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(wh, TABLE))
                 for f in fs if f.endswith(".parquet")]
        return {
            "plans.label_stage_s": (label_s, "s"),
            "operators.dedup.verdicts_s": (verdicts_s, "s"),
            "plans.finish_pipeline_s": (finish_s, "s"),
            "sources.io.write_output_s": (write_s, "s"),
            "plans.metrics_s": (metrics_s, "s"),
            "sources.io.files_written": (len(files), "count"),
            "sources.io.output_mb": (sum(map(os.path.getsize, files)) / 1e6, "MB"),
        }, labels


def core_layer(rows: list, seed: int, reps: int = 3) -> dict:
    """Each pure kernel, and the fused label UDF's Python function, timed in
    this process (no Spark) over a seeded sample of the workload's corpus.
    Scrub, relevance and hashing run on the docs that pass the gates, as in
    the pipeline."""
    from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG as CFG
    from scrubah_pii_spark.core import hashing, langid, perplexity, quality, relevance, scrub
    from scrubah_pii_spark.core.extract import extract_text
    from scrubah_pii_spark.operators.scrub_op import make_doc_features_extract_udf

    sample = random.Random(seed).sample(rows, min(CORE_SAMPLE, len(rows)))
    texts = [checks.doc_text(r) for r in sample]
    gated = [t for t in texts
             if quality.simple_quality_score(t, CFG.quality.ocr_min_quality).passed
             and langid.heuristic_langid(t)[0] in CFG.langid.keep_langs]
    scrubbed = [scrub.scrub_text_production(t).text for t in gated]
    udf = make_doc_features_extract_udf(
        CFG.langid.keep_langs, CFG.quality.ocr_min_quality, CFG.scrub.scrub_mode)
    udf_args = (
        pd.Series([r["text"] for r in sample]),
        pd.Series([r["html"] if r["text"] is None else None for r in sample]),
        pd.Series([max(0, CFG.relevance.current_year - r["warc_ts"].year) for r in sample]),
    )

    def us_per_doc(fn, items) -> float:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            runs.append((time.perf_counter() - t0) / len(items) * 1e6)
        return probes.median(runs)

    kernels = {
        "scrub": (scrub.scrub_text_production, gated),
        "quality": (lambda t: quality.simple_quality_score(t, CFG.quality.ocr_min_quality), texts),
        "langid": (langid.heuristic_langid, texts),
        "perplexity": (perplexity.log_perplexity, texts),
        "relevance": (lambda t: relevance.relevance_score(t, "", generation=2), scrubbed),
        "hashing": (hashing.simhash_int, scrubbed),
        "extract": (extract_text, [r["html"] for r in sample]),
    }
    out = {f"core.{k}.us_per_doc": (us_per_doc(fn, items), "us")
           for k, (fn, items) in kernels.items()}
    out["operators.scrub_op.doc_features_us_per_doc"] = (
        us_per_doc(lambda args: udf.func(*args), [udf_args]) / len(sample), "us")
    return out


def stream_layer(bench, rows: list, batch_labels: dict) -> dict:
    """streaming.stream.streaming_transform drains the corpus, landed in
    warc_ts order as STREAM_FILES parquet files, into a checkpointed parquet
    sink: trigger availableNow, one file per micro-batch, so each
    micro-batch starts after the previous one commits (a closed loop); the
    last micro-batch is the no-data batch that advances the watermark. The
    streaming.* times are per micro-batch, and include the session's first
    use of the streaming plan. The sink is checked against the pure kernels
    and the batch label_stage labels."""
    from scrubah_pii_spark.streaming.stream import read_webpage_stream, streaming_transform

    src, sink = bench.path("stream_in"), bench.path("stream_out")
    rows = sorted(rows, key=lambda r: r["warc_ts"])  # the watermark drops no row
    inputs.write_webpages(rows, src, STREAM_FILES)
    query = (
        streaming_transform(read_webpage_stream(bench.spark, src, max_files_per_trigger=1))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", bench.path("stream_ckpt"))
        .partitionBy("crawl_date").outputMode("append")
        .trigger(availableNow=True).start()
    )
    try:
        bench.attempt(query.awaitTermination(STREAM_TIMEOUT_S),
                      f"stream drain ended within {STREAM_TIMEOUT_S} s")
    finally:
        query.stop()
    progress = [json.loads(p.json) for p in query.recentProgress]
    data = [p for p in progress if p["numInputRows"] > 0]
    for i in range(STREAM_FILES):
        bench.attempt(i < len(data), f"stream micro-batch {i} committed")
    _check_stream(bench, rows, pq.read_table(sink).to_pylist(), batch_labels)
    bench.hygiene(record=False)

    def per_batch(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3 / len(progress)

    state = [op for p in progress for op in p.get("stateOperators", ())][-1:] or [{}]
    return {
        "streaming.add_batch_s": (per_batch("addBatch"), "s"),
        "streaming.query_planning_s": (per_batch("queryPlanning"), "s"),
        "streaming.wal_commit_s": (per_batch("walCommit"), "s"),
        "streaming.batches": (len(progress), "count"),
        "streaming.state_rows": (state[0].get("numRowsTotal", 0), "count"),
        "streaming.state_mb": (state[0].get("memoryUsedBytes", 0) / 1e6, "MB"),
    }


def _check_stream(bench, rows: list, out: list, batch_labels: dict) -> None:
    """The stream scores every doc as recency generation 2, so relevance
    and recommendation are compared with the batch labels only where batch
    also scores generation 2; every other label is compared for every doc."""
    ref = checks.reference_labels(rows, fixed_generation=2)
    keep = {r["url"]: r["recommendation"] != "discard" for r in out}
    texts = [(r["url"], r["scrubbed_text"]) for r in out]
    _, _, failures = checks.check_docs("stream", keep, texts, ref, kept_only=False)
    bench.attempt(not failures, "; ".join(failures))
    bench.attempt(len(out) == len(rows), "stream emits every input doc once")

    def key(r, full):
        rd = lambda v: None if v is None else round(v, 6)  # noqa: E731
        base = (r["lang_pred"], rd(r["quality_score"]), r["gates_pass"],
                r["scrubbed_text"], r["pii_count"])
        return base + ((rd(r["relevance_score"]), r["recommendation"]) if full else ())

    got = {r["url"]: r for r in out}
    bench.attempt(
        len(got) == len(batch_labels) and all(
            u in got and key(got[u], b["generation"] == 2) == key(b, b["generation"] == 2)
            for u, b in batch_labels.items()),
        "stream labels equal batch label_stage labels")


class CorpusOps:
    """Corpus-level entry_queries over a seeded documents table, each
    through a noop sink with the cache cleared before it. The warm-up
    collects every query's rows and checks them against the query's DuckDB
    oracle by an order-insensitive value hash; a run is one pass of
    TIMED_QUERIES, and each query is one batch. TRACED_QUERIES run in the
    traced run only (see the module docstring)."""

    MIN_REPS = 4

    def __init__(self, bench, n_docs=None):
        self.b = bench
        self.n_docs = n_docs or CORPUS_DOCS
        self.sf_dir = bench.path("sf")
        inputs.write_documents(self.n_docs, bench.seed, self.sf_dir)
        self.f1, self.exact, self.batch_s = [], [], []
        self.times = {name: [] for name in TIMED_QUERIES}

    def _query(self, name):
        from scrubah_pii_spark.entry_queries import QUERIES

        return QUERIES[name](self.b.spark, self.sf_dir)

    def _collect(self, name) -> tuple:
        df = self._query(name)
        return df, [tuple(r) for r in df.collect()]

    def _collect_and_check(self, names) -> tuple:
        """Collect each query's rows (cache cleared before each) and check
        them against its oracle; returns ({name: (cols, rows, oracle cols,
        oracle rows)}, {name: seconds})."""
        import duckdb

        from scrubah_pii_spark.entry_queries import oracle_map

        oracles = oracle_map()
        results, seconds = {}, {}
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, 'documents.parquet')}'")
            for name in names:
                self.b.hygiene()
                (df, rows), seconds[name] = _clock(lambda: self._collect(name))
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                results[name] = (df.columns, rows, ocols, orows)
                self.b.attempt(
                    len(rows) == len(orows) and sorted(df.columns) == sorted(ocols)
                    and checks.table_hash(df.columns, rows) == checks.table_hash(ocols, orows),
                    f"{name} value hash equals its DuckDB oracle")
        finally:
            con.close()
        self.b.hygiene()
        return results, seconds

    def warmup(self) -> float:
        results, seconds = self._collect_and_check(TIMED_QUERIES)

        def by_id(name, col, oracle):
            cols, rows = results[name][2:] if oracle else results[name][:2]
            i, k = cols.index("doc_id"), cols.index(col)
            return {r[i]: r[k] for r in rows}

        # exact_dedup's keep/drop decision and dup_span_strip's rewritten
        # text, each against its oracle
        keep = {o: {d: not dup for d, dup in by_id("exact_dedup", "is_exact_dup", o).items()}
                for o in (False, True)}
        self.f1.append(checks.keep_drop_f1(keep[False], keep[True]))
        self.exact.append(checks.exact_ratio(by_id("dup_span_strip", "cleaned_text", False),
                                             by_id("dup_span_strip", "cleaned_text", True)))
        # the first passes keep getting faster while the JIT compiles the
        # planner and operators; WARMUP_PASSES more untimed passes let it
        # settle
        return sum(seconds.values()) + sum(self.run(None) for _ in range(WARMUP_PASSES))

    def run(self, group) -> float:
        """One pass of the timed queries under job group group (probes), or
        untimed for group None; only passes of probes.TIMED_GROUP are
        sampled."""
        total = 0.0
        for name in TIMED_QUERIES:
            self.b.hygiene()
            if group is None:
                _, seconds = _clock(lambda: _noop(self._query(name)))
            else:
                _, seconds = self.b.timed(lambda: _noop(self._query(name)), group)
            self.b.attempt(True, name)
            total += seconds
            if group == probes.TIMED_GROUP:
                self.times[name].append(seconds)
                self.batch_s.append(seconds)
        self.b.hygiene()
        return total

    def layers(self) -> dict:
        out = {QUERY_LAYERS[name]: (probes.median(t), "s") for name, t in self.times.items()}
        # one checked run of each traced-only query; its time includes the
        # query's first-use costs in this session
        _, seconds = self._collect_and_check(TRACED_QUERIES)
        out.update({QUERY_LAYERS[name]: (t, "s") for name, t in seconds.items()})
        out.update(_plan_counts([_executed_plan(self._query(name)) for name in QUERY_LAYERS]))
        self.b.hygiene(record=False)
        return out


WORKLOADS = {"flagship": Flagship, "corpus_ops": CorpusOps}
