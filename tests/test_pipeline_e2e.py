"""End-to-end pipeline tests on the synthetic webtext corpus: byte-identical
scrub per url (vs the pure-Python oracle, itself JS-parity-proven), keep/drop
F1 >= 0.99, zero PII leaks past the gate, dedup verdicts, resume manifest."""

import pytest
from pyspark.sql import functions as F

from scrubah_pii_spark.core.langid import heuristic_langid
from scrubah_pii_spark.core.quality import simple_quality_score
from scrubah_pii_spark.core.relevance import relevance_score
from scrubah_pii_spark.core.scrub import scrub_text, scrub_text_production
from scrubah_pii_spark.plans.pipeline import lineage_table, run_pipeline

CURRENT_YEAR = 2026


def oracle_label(row) -> str:
    """Pure-Python reference pipeline (the F1 oracle) — production scrub
    composition (App.tsx order), matching the pipeline default."""
    text = row["text"]
    lang_ok = heuristic_langid(text)[0] == "en"
    quality_ok = simple_quality_score(text).passed
    if not (lang_ok and quality_ok):
        return "discard"
    scrubbed = scrub_text_production(text).text
    gen = max(0, CURRENT_YEAR - row["warc_ts"].year)
    return relevance_score(scrubbed, "", generation=gen).recommendation


@pytest.fixture(scope="module")
def result(webpages):
    return run_pipeline(webpages)


@pytest.fixture(scope="module")
def labeled_rows(result):
    return {
        r["url"]: r
        for r in result.labeled.select(
            "url", "gates_pass", "scrubbed_text", "recommendation",
            "relevance_score", "lang_pred", "quality_score", "pii_count",
        ).collect()
    }


class TestScrubParity:
    def test_byte_identical_scrub_per_url(self, synth_rows, labeled_rows):
        mismatch = []
        for r in synth_rows:
            got = labeled_rows[r["url"]]
            if not got["gates_pass"]:
                continue
            expect = scrub_text_production(r["text"]).text
            if got["scrubbed_text"] != expect:
                mismatch.append((r["url"], r["doc_class"]))
        assert mismatch == [], f"{len(mismatch)} scrub mismatches: {mismatch[:3]}"

    def test_pii_count_invariant(self, synth_rows, labeled_rows):
        for r in synth_rows:
            got = labeled_rows[r["url"]]
            if got["gates_pass"]:
                assert got["pii_count"] == scrub_text_production(r["text"]).count

    def test_effect_mode_flag(self, webpages):
        """scrub_mode='effect' runs the reference's deterministic test
        configuration (Effect cascade only) — byte-identical to scrub_text."""
        import dataclasses

        from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG

        cfg = dataclasses.replace(
            DEFAULT_PIPELINE_CONFIG,
            scrub=dataclasses.replace(
                DEFAULT_PIPELINE_CONFIG.scrub, scrub_mode="effect"
            ),
        )
        res = run_pipeline(webpages, cfg=cfg)
        rows = res.labeled.select("url", "gates_pass", "scrubbed_text").collect()
        texts = {r["url"]: r for r in webpages.select("url", "text").collect()}
        for r in rows:
            if r["gates_pass"]:
                assert r["scrubbed_text"] == scrub_text(texts[r["url"]]["text"]).text
        res.labeled.unpersist()


class TestKeepDrop:
    def test_f1_vs_oracle(self, synth_rows, labeled_rows):
        tp = fp = fn = agree = 0
        for r in synth_rows:
            want = oracle_label(r)
            got = labeled_rows[r["url"]]["recommendation"]
            keep_want = want in ("keep", "demote")
            keep_got = got in ("keep", "demote")
            agree += want == got
            if keep_got and keep_want:
                tp += 1
            elif keep_got and not keep_want:
                fp += 1
            elif keep_want and not keep_got:
                fn += 1
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} (tp={tp} fp={fp} fn={fn})"
        assert agree / len(synth_rows) >= 0.99  # 3-way label agreement too

    def test_non_english_discarded(self, synth_rows, labeled_rows):
        for r in synth_rows:
            if r["doc_class"] == "non_english":
                assert labeled_rows[r["url"]]["recommendation"] == "discard"

    def test_garbage_ocr_discarded(self, synth_rows, labeled_rows):
        for r in synth_rows:
            if r["doc_class"] == "garbage_ocr":
                assert labeled_rows[r["url"]]["recommendation"] == "discard"

    def test_insurance_billing_discarded(self, synth_rows, labeled_rows):
        for r in synth_rows:
            if r["doc_class"] in ("insurance_card", "billing_statement"):
                assert labeled_rows[r["url"]]["recommendation"] == "discard", r["doc_class"]


class TestDedupAndLeaks:
    def test_exact_duplicates_flagged(self, result, synth_rows):
        out = {r["url"]: r for r in result.output.collect()}
        # every exact_duplicate row whose source survived must NOT be in output
        classes = {r["url"]: r["doc_class"] for r in synth_rows}
        for url, row in out.items():
            assert row["difference_type"] in ("unique", "same-event")

    def test_no_pii_leaks_in_output(self, result):
        leaks = result.output.filter(F.col("pii_leak")).count()
        assert leaks == 0

    def test_output_schema_stable(self, result):
        cols = set(result.output.columns)
        for c in ["url", "scrubbed_text", "recommendation", "content_hash",
                  "simhash", "crawl_date", "url_bucket", "relevance_score"]:
            assert c in cols

    def test_metrics_cover_all_docs(self, result, synth_rows):
        total = result.metrics.agg(F.sum("docs_in")).collect()[0][0]
        assert total == len(synth_rows)

    def test_lineage_pattern_types(self, result):
        lin = lineage_table(result.labeled)
        types = {r["pattern_type"] for r in lin.select("pattern_type").distinct().collect()}
        assert types & {"EMAIL", "PHONE", "SSN", "NAME", "DATE"}

    def test_fused_verdicts_match_legacy_path(self, result):
        """dedup_verdicts_fused (3 exchanges) must produce exactly the same
        survivor set + verdict columns as the legacy mark -> bucketed-analyze
        -> join composition it replaced."""
        from dedup_reference import (
            analyze_near_duplicates_bucketed,
            mark_exact_duplicates,
        )
        from scrubah_pii_spark.functions.hashing_expr import content_hash_expr
        from scrubah_pii_spark.operators.dedup import dedup_verdicts_fused

        slim = result.labeled.filter(
            F.col("recommendation") != "discard"
        ).select(
            "url", "warc_ts", "doc_type", "simhash",
            content_hash_expr(F.col("scrubbed_text")).alias("content_hash"),
        )
        fused = {
            (r["url"], r["warc_ts"]): (
                r["content_hash"], r["near_dup_of"], r["similarity"],
                r["difference_type"], r["is_near_dup"],
            )
            for r in dedup_verdicts_fused(slim).collect()
        }
        marked = mark_exact_duplicates(slim, hash_col="content_hash")
        legacy = {
            (r["url"], r["warc_ts"]): (
                r["content_hash"], r["near_dup_of"], r["similarity"],
                r["difference_type"], r["is_near_dup"],
            )
            for r in analyze_near_duplicates_bucketed(
                marked.filter(~F.col("is_exact_dup"))
            ).collect()
        }
        assert fused == legacy

    def test_recrawled_url_single_survivor(self, spark):
        """Same url re-crawled at two warc_ts with identical content: the
        composite-key verdict join must keep exactly ONE copy (the url-keyed
        join this replaces fanned out and kept both)."""
        import datetime

        from scrubah_pii_spark.sources.synth import generate_rows

        base = [r for r in generate_rows(40) if r["text"]][:20]
        rows = []
        for r in base:
            rows.append((r["url"], r["warc_ts"], None, r["text"], r["lang"]))
        # re-crawl the first 5 urls 1 day later, byte-identical text
        for r in base[:5]:
            rows.append((
                r["url"],
                r["warc_ts"] + datetime.timedelta(days=1),
                None, r["text"], r["lang"],
            ))
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        res = run_pipeline(df)
        out = res.output.select("url", "warc_ts").collect()
        urls = [r["url"] for r in out]
        assert len(urls) == len(set(urls)), "re-crawled url appears twice in output"
        labeled_n = res.labeled.count()
        assert labeled_n == len(rows)
        res.labeled.unpersist()

    def test_checkpoint_resume_restart_byte_identical(
        self, spark, webpages, result, tmp_path_factory
    ):
        """Kill the job mid-label-stage, restart against the same warehouse:
        the restart must (a) re-process ONLY unfinished crawl_date
        partitions (manifest has no date twice) and (b) produce output
        byte-identical to the uninterrupted run_pipeline run."""
        from scrubah_pii_spark.plans.resume import (
            label_stage_resumable,
            resume_pipeline,
        )

        wh = str(tmp_path_factory.mktemp("warehouse"))
        n_dates = webpages.select(
            F.to_date("warc_ts").alias("d")
        ).distinct().count()
        batch = max(1, n_dates // 4)
        n_batches = -(-n_dates // batch)
        assert n_batches >= 3, "corpus must span enough dates to interrupt"

        with pytest.raises(RuntimeError, match="injected failure"):
            label_stage_resumable(
                webpages, wh, batch_dates=batch, fail_after_batches=2
            )
        manifest = spark.read.parquet(wh + "/_manifest")
        assert manifest.count() == 2 * batch  # exactly two committed batches

        res = resume_pipeline(webpages, wh, batch_dates=batch)

        m = spark.read.parquet(wh + "/_manifest")
        assert m.count() == n_dates, "a committed date was re-processed"
        assert m.select("crawl_date").distinct().count() == n_dates

        def canon(out):
            df = out.withColumn(
                "replacements", F.sort_array(F.map_entries("replacements"))
            )
            cols = sorted(df.columns)
            return {
                r["url"]: tuple((c, r[c]) for c in cols)
                for r in df.collect()
            }

        assert canon(res.output) == canon(result.output)

    def test_checkpoint_resume_uncommitted_batch_reprocessed(
        self, spark, webpages, result, tmp_path_factory
    ):
        """A kill BETWEEN the stage-parquet append and the manifest commit
        leaves orphan rows for that batch; the restart re-processes the
        batch (it's not committed) and read_stage's dropDuplicates makes the
        re-append invisible — output still byte-identical."""
        import os

        from scrubah_pii_spark.plans.resume import (
            STAGE_TABLE,
            label_stage_resumable,
            resume_pipeline,
        )

        wh = str(tmp_path_factory.mktemp("warehouse"))
        n_dates = webpages.select(
            F.to_date("warc_ts").alias("d")
        ).distinct().count()
        batch = max(1, n_dates // 4)
        with pytest.raises(RuntimeError, match="injected failure"):
            label_stage_resumable(
                webpages, wh, batch_dates=batch, fail_after_batches=1
            )
        # simulate data-written-but-uncommitted: copy one committed date's
        # stage rows back in WITHOUT a manifest entry for a new date region
        stage = spark.read.parquet(os.path.join(wh, STAGE_TABLE))
        one_date = stage.select("crawl_date").distinct().limit(1)
        orphan = stage.join(F.broadcast(one_date), "crawl_date", "semi")
        orphan.write.mode("append").partitionBy("crawl_date").parquet(
            os.path.join(wh, STAGE_TABLE)
        )
        res = resume_pipeline(webpages, wh, batch_dates=batch)
        a = {r["url"]: r["scrubbed_text"] for r in res.output.collect()}
        b = {r["url"]: r["scrubbed_text"] for r in result.output.collect()}
        assert a == b

    def test_resume_is_idempotent_after_success(
        self, spark, webpages, result, tmp_path_factory
    ):
        """Re-running resume_pipeline on a completed warehouse is a no-op
        label pass (0 batches) plus a deterministic re-finish."""
        from scrubah_pii_spark.plans.resume import (
            label_stage_resumable,
            resume_pipeline,
        )

        wh = str(tmp_path_factory.mktemp("warehouse"))
        resume_pipeline(webpages, wh)
        assert label_stage_resumable(webpages, wh) == 0
        res2 = resume_pipeline(webpages, wh)
        a = {r["url"]: r["scrubbed_text"] for r in res2.output.collect()}
        b = {r["url"]: r["scrubbed_text"] for r in result.output.collect()}
        assert a == b

    def test_barrier_size_gate_both_branches(self, spark, webpages, tmp_path):
        """The eager label barrier is gated on input size, not on a setting.
        An in-memory frame has no input files (size unknown), so the barrier
        fires and the labeled cache is populated when run_pipeline returns;
        a parquet copy of the same rows is a few KB, so the barrier is
        skipped and nothing is cached until an action runs. Both branches
        write the same rows."""
        path = str(tmp_path / "webpages.parquet")
        webpages.write.parquet(path)
        webpages.count()  # the fixture's own cache is loaded before measuring

        def cached_partitions():
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            return sum(i.numCachedPartitions() for i in infos)

        def run(df):
            before = cached_partitions()
            res = run_pipeline(df)
            return res, cached_partitions() - before

        # the extra column keeps this arm's plan apart from the module
        # fixture's already-cached labeled frame, so its barrier builds a
        # new cache (the output projection drops the column again)
        in_memory, mem_cached = run(webpages.withColumn("_arm", F.lit(1)))
        from_file, file_cached = run(spark.read.parquet(path))
        assert mem_cached > 0
        assert file_cached == 0

        def rows(res):
            return {(r["url"], r["warc_ts"]): r["scrubbed_text"]
                    for r in res.output.select(
                        "url", "warc_ts", "scrubbed_text").collect()}

        assert rows(in_memory) == rows(from_file)
        in_memory.labeled.unpersist()
        from_file.labeled.unpersist()


class TestResumeContract:
    """Round-4 ADVICE items: flag plumbing, (url, warc_ts) primary-key
    contract, and the empty-warehouse guard in plans/resume.py."""

    def test_resume_forwards_label_flags(
        self, spark, webpages, tmp_path_factory
    ):
        """resume_pipeline(use_crawl_lang=...) must reproduce run_pipeline
        with the SAME flag — previously the resume path silently labeled
        with defaults."""
        from scrubah_pii_spark.config import DEFAULT_PIPELINE_CONFIG
        from scrubah_pii_spark.plans.resume import resume_pipeline

        wh = str(tmp_path_factory.mktemp("warehouse_flags"))
        res = resume_pipeline(webpages, wh, use_crawl_lang=True)
        ref = run_pipeline(webpages, use_crawl_lang=True)
        a = {(r["url"], r["warc_ts"]): r["scrubbed_text"]
             for r in res.output.collect()}
        b = {(r["url"], r["warc_ts"]): r["scrubbed_text"]
             for r in ref.output.collect()}
        assert a == b
        # the flag must actually reach label_stage: the language gate reads
        # the crawl's lang column, not the predicted one. The corpus must
        # hold docs where the two disagree, or this proves nothing.
        keep_langs = DEFAULT_PIPELINE_CONFIG.langid.keep_langs
        rows = res.labeled.select("lang", "lang_pred", "lang_keep").collect()
        assert all(r["lang_keep"] == (r["lang"] in keep_langs) for r in rows)
        assert any(
            (r["lang"] in keep_langs) != (r["lang_pred"] in keep_langs)
            for r in rows
        )
        ref.labeled.unpersist()

    def test_validate_keys_rejects_duplicate_pk(
        self, spark, webpages, tmp_path_factory
    ):
        """Two legitimate rows sharing (url, warc_ts) violate the resume
        input contract; validate_keys=True must fail fast instead of
        silently collapsing them on restart."""
        from scrubah_pii_spark.plans.resume import label_stage_resumable

        dup = webpages.limit(1)
        bad = webpages.unionByName(dup)
        wh = str(tmp_path_factory.mktemp("warehouse_dup"))
        with pytest.raises(ValueError, match=r"primary-key contract"):
            label_stage_resumable(bad, wh, validate_keys=True)

    def test_empty_input_raises_descriptive(
        self, spark, webpages, tmp_path_factory
    ):
        """Zero-partition input leaves no stage/manifest; resume must name
        the warehouse state, not die on a raw AnalysisException."""
        from scrubah_pii_spark.plans.resume import resume_pipeline

        empty = webpages.filter(F.lit(False))
        wh = str(tmp_path_factory.mktemp("warehouse_empty"))
        with pytest.raises(FileNotFoundError, match="no committed label stage"):
            resume_pipeline(empty, wh)


class TestBarrierSizeGate:
    def test_input_bytes_unknown_for_memory_frames(self, spark):
        """createDataFrame inputs have no files — the gate must report
        'unknown' (huge sentinel) so the barrier STAYS on; skipping it on
        unmeasurable inputs would silently reintroduce the 2M-doc
        double-compute (round-7 finding) on cluster storage schemes."""
        from scrubah_pii_spark.plans.pipeline import _input_bytes

        df = spark.range(10).toDF("x")
        assert _input_bytes(df) == 1 << 62

    def test_input_bytes_matches_local_files(self, spark, tmp_path):
        import os

        from scrubah_pii_spark.plans.pipeline import _input_bytes

        p = str(tmp_path / "t.parquet")
        spark.range(1000).toDF("x").write.parquet(p)
        back = spark.read.parquet(p)
        real = sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
        assert _input_bytes(back) == real
        assert 0 < real < (1 << 62)
