"""Plan-shape regression tests: pin the Exchange / ArrowEvalPython / Window
node counts of the hot physical plans. The round-5 performance wins came from
exchange- and stage-count discipline (3-exchange fused dedup, 0-window chunk
dedup, 1-Arrow label stage); a silent extra Arrow stage or shuffle is the
kind of regression that costs a whole round before a wall-clock bench
notices (round 4's two-Arrow-stage label regression). These tests fail the
moment the plan shape drifts, independent of timing noise.

Node counting: explain(mode="formatted") prints each physical node twice
(once in the tree, once in the details section), so raw regex counts are
divided by 2.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F


def plan_counts(df, *nodes):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    s = buf.getvalue()
    return {k: len(re.findall(rf"\b{k}\b", s)) // 2 for k in nodes}


@pytest.fixture(scope="module")
def webdocs(spark):
    return spark.createDataFrame(
        [
            (f"http://h{i % 3}.com/{i}", "2025-06-01 00:00:00", f"text {i}", "en")
            for i in range(20)
        ],
        "url string, warc_ts string, text string, lang string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))


class TestLabelStage:
    def test_one_arrow_node_one_exchange_no_window(self, webdocs):
        """The fused per-doc stage is ONE ArrowEvalPython (extract + quality
        + langid + scrub + relevance in a single Arrow round-trip) behind
        ONE round-robin exchange. A second Arrow node means the fusion
        regressed (round-4 failure mode: the JVM queue re-buffers every
        passthrough column per extra stage)."""
        from scrubah_pii_spark.plans.pipeline import label_stage

        c = plan_counts(
            label_stage(webdocs),
            "Exchange", "ArrowEvalPython", "Window",
        )
        assert c == {"Exchange": 1, "ArrowEvalPython": 1, "Window": 0}, c

    def test_round_robin_one_slice_per_core(self, spark, webdocs):
        """The pre-UDF round-robin has one slice per core
        (defaultParallelism), not one per shuffle partition: every extra
        Python task pays PySpark's fixed worker cost and buys no balance,
        since round-robin slices are already equal."""
        from scrubah_pii_spark.plans.pipeline import label_stage

        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                label_stage(webdocs).explain(mode="formatted")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        cores = spark.sparkContext.defaultParallelism
        assert cores != 16
        parts = re.findall(r"RoundRobinPartitioning\((\d+)\)", buf.getvalue())
        assert parts and {int(n) for n in parts} == {cores}, parts

    def test_core_count_connect_fallback(self):
        """Under Spark Connect there is no sparkContext; the slice count
        falls back to the shuffle width instead of failing."""
        from pyspark.errors import PySparkAttributeError

        from scrubah_pii_spark.plans.pipeline import _core_count

        class NoContextSession:
            @property
            def sparkContext(self):
                raise PySparkAttributeError(
                    errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                    messageParameters={"attr_name": "sparkContext"},
                )

            class conf:
                @staticmethod
                def get(key, default=None):
                    return "8"

        assert _core_count(NoContextSession()) == 8


class TestStreamingLabelStage:
    def test_one_arrow_node_in_started_query(self, spark, tmp_path):
        """The streaming micro-batch runs the batch label_stage, so its
        executed plan holds the same ONE fused ArrowEvalPython. A second
        node means streaming grew its own per-doc program again (the old
        shape: a standalone extract UDF plus a standalone scrub UDF)."""
        from scrubah_pii_spark.streaming.stream import (
            read_webpage_stream,
            streaming_transform,
        )

        inp = str(tmp_path / "in")
        spark.createDataFrame(
            [(f"http://h{i % 3}.com/{i}", f"text {i}") for i in range(8)],
            "url string, text string",
        ).select(
            "url",
            F.to_timestamp(F.lit("2025-06-01 00:00:00")).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit("en").alias("lang"),
        ).write.parquet(inp)
        q = (
            streaming_transform(read_webpage_stream(spark, inp))
            .writeStream.format("memory").queryName("plan_shape_stream")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            plan = q._jsq.explainInternal(False)
        finally:
            q.stop()
        assert "No physical plan" not in plan, plan
        assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1, plan


class TestDedupFused:
    def test_three_exchanges_no_joins_no_arrow(self, spark):
        """dedup_verdicts_fused: exactly three exchanges — shuffle(hash)
        window, shuffle(band, bits) window, groupBy(url, ts) fold — and no
        join or Python stage anywhere (the pre-round-5 shape spent five
        exchanges plus a corpus-wide verdict join)."""
        from scrubah_pii_spark.operators.dedup import dedup_verdicts_fused

        slim = spark.createDataFrame(
            [
                (f"u{i}", "2025-06-01 00:00:00", "webpage", i * 7, f"h{i % 5}")
                for i in range(20)
            ],
            "url string, warc_ts string, doc_type string,"
            " simhash long, content_hash string",
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
        c = plan_counts(
            dedup_verdicts_fused(slim),
            "Exchange", "ArrowEvalPython", "Window",
            "SortMergeJoin", "BroadcastHashJoin",
        )
        assert c["Exchange"] == 3, c
        assert c["Window"] == 2, c
        assert c["ArrowEvalPython"] == 0, c
        assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0, c


class TestChunkDedup:
    def test_no_window_over_chunk(self, spark):
        """chunk_dedup must never put a Window over the chunk string — a hot
        chunk (boilerplate, empty lines) would funnel through one task. The
        kept set is a map-side-combinable min(struct) aggregate."""
        from scrubah_pii_spark.operators.sampling import chunk_dedup

        df = spark.createDataFrame(
            [(i, f"w{i} a b c d e f") for i in range(20)],
            "doc_id long, text string",
        )
        c = plan_counts(chunk_dedup(df), "Exchange", "Window")
        assert c["Window"] == 0, c
        assert c["Exchange"] <= 3, c


class TestHostCap:
    def test_two_phase_windows_with_group_limit_pushdown(self, spark):
        """host_cap_topn: two windows (salted local top-N, then per-host
        rank) over two exchanges, with WindowGroupLimit pushdown on both
        (rank<=N filters evaluated partially before each shuffle)."""
        from scrubah_pii_spark.operators.sampling import host_cap_topn

        docs = spark.createDataFrame(
            [(i, f"h{i % 4}", i * 3 % 11) for i in range(40)],
            "doc_id long, host string, score long",
        )
        out = host_cap_topn(
            docs, "host", [F.col("score").desc(), F.col("doc_id").asc()], n=5
        )
        c = plan_counts(out, "Exchange", "Window", "WindowGroupLimit")
        assert c["Exchange"] == 2, c
        assert c["Window"] == 2, c
        assert c["WindowGroupLimit"] >= 2, c


class TestStratifiedSample:
    def test_single_shuffle_broadcast_back(self, spark):
        """stratified_sample: the stratum-count aggregate is the ONLY
        shuffle; the one-row-per-stratum counts table broadcasts back."""
        from scrubah_pii_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame(
            [(i, f"l{i % 3}") for i in range(30)], "doc_id long, lang string"
        )
        c = plan_counts(
            stratified_sample(df, "lang", cap=5),
            "Exchange", "Window", "BroadcastHashJoin", "SortMergeJoin",
        )
        assert c["Exchange"] == 1, c
        assert c["Window"] == 0, c
        assert c["BroadcastHashJoin"] == 1 and c["SortMergeJoin"] == 0, c


class TestDupSpanStrip:
    def test_no_window_nodes(self, spark):
        """dup_span_strip: gram DF aggregation + joins only — a window over
        the gram string would funnel hot n-grams through one task."""
        from scrubah_pii_spark.operators.sampling import dup_span_strip

        df = spark.createDataFrame(
            [(i, f"w{i} a b c d e") for i in range(20)],
            "doc_id long, text string",
        )
        c = plan_counts(dup_span_strip(df), "Window", "ArrowEvalPython")
        assert c["Window"] == 0 and c["ArrowEvalPython"] == 0, c


class TestLabTrends:
    def test_single_arrow_eval_above_repartition(self, spark):
        """extract_labs_udf runs ONCE, after the pre-UDF repartition. The
        r7 shape evaluated it twice: explode(labs) made Catalyst infer a
        size(labs) > 0 filter and push it below the exchange, re-running
        the whole extraction on the UN-spread scan (one task for a
        single-file parquet input — measured as the lab_trend_summary
        30 s outlier at sf1.0). asNondeterministic() forbids the
        duplication (guide §4.4)."""
        from scrubah_pii_spark.operators.extraction_op import (
            extract_labs_udf, lab_trends,
        )

        docs = spark.createDataFrame(
            [(i, f"WBC: {i % 20}.1 HGB: 1{i % 9}") for i in range(20)],
            "doc_id long, text string",
        ).repartition(4)
        df = docs.withColumn("labs", extract_labs_udf(F.col("text")))
        out = lab_trends(df, "doc_id", "doc_id")
        c = plan_counts(out, "ArrowEvalPython", "Exchange")
        assert c["ArrowEvalPython"] == 1, c


class TestSpreadHelper:
    """_spread (entry_queries): round-robin repartition ONLY when the scan
    produced fewer partitions than cores — the no-op branch is what makes it
    scale-safe (a real 100 TB scan must not be coalesced to core count)."""

    def test_single_partition_input_spreads(self, spark):
        from scrubah_pii_spark.entry_queries import _spread

        df = spark.createDataFrame([(i,) for i in range(10)], "x long") \
            .coalesce(1)
        out = _spread(df)
        target = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == target
        assert sorted(r["x"] for r in out.collect()) == list(range(10))

    def test_wide_input_untouched(self, spark):
        from scrubah_pii_spark.entry_queries import _spread

        target = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(target + 4)
        out = _spread(df)
        # no-op branch: the SAME frame comes back, no extra exchange
        assert out is df

    def test_connect_safe_fallback(self, spark):
        """ADVICE r7: under Spark Connect there is no sparkContext/RDD
        bridge — the probe must degrade to the inputFiles heuristic (and to
        a plain no-op if even that fails) rather than crash every wrapped
        query."""
        from unittest import mock

        from scrubah_pii_spark.entry_queries import _spread

        df = spark.createDataFrame([(i,) for i in range(10)], "x long")

        class NoContextSession:
            @property
            def sparkContext(self):
                raise Exception("sparkContext is not supported in Connect")

            class conf:
                @staticmethod
                def get(key, default=None):
                    return "8"

        with mock.patch.object(
            type(df), "sparkSession", property(lambda self: NoContextSession())
        ):
            # must not raise; and a local (non-file-backed) frame has
            # inputFiles() == [] — unknown width — so the fallback must be
            # a NO-OP, never an unconditional repartition (r7 ADVICE)
            out = _spread(df)
        assert out is df
        assert sorted(r["x"] for r in out.collect()) == list(range(10))


class TestTemplateCorpusLazy:
    """Round 8: the corpus-sized scalars (doc count / avg lines, and the
    line-frequency doc count) ride the plan as a broadcast 1-row aggregate.
    Constructing the corpus frame must therefore launch ZERO Spark jobs —
    the single action is the overlap-dedup collect. A driver collect()
    sneaking back into construction is exactly the two-action regression
    this pins."""

    def _jobs_run(self, spark, fn):
        tracker = spark.sparkContext.statusTracker()

        def jobs():
            # ids, not a count: the status store evicts the oldest jobs past
            # spark.ui.retainedJobs, so a count stops moving in a long session
            return set(tracker.getJobIdsForGroup(None) or [])

        before = jobs()
        fn()
        return len(jobs() - before)

    def test_ngram_corpus_construction_is_lazy(self, spark):
        from scrubah_pii_spark.operators.template import _ngram_corpus_raw

        df = spark.createDataFrame(
            [(str(i), "hdr line one\nhdr line two\nbody %d\nfooter line" % i)
             for i in range(6)],
            "url string, text string",
        )
        built = {}

        def construct():
            built["corpus"] = _ngram_corpus_raw(
                df, "text", "url", 2, 5, 0.3, 3, None
            )

        assert self._jobs_run(spark, construct) == 0
        # self-check: the counter sees the action's jobs, so the zero above
        # is not vacuous. And the in-plan scalars produce the same corpus the
        # collected scalars did: every doc shares hdr/footer -> doc_count == 6
        rows = []
        assert self._jobs_run(spark, lambda: rows.extend(built["corpus"].collect())) > 0
        assert rows and all(r["doc_count"] == 6 for r in rows)
        assert all(r["template_type"] for r in rows)

    def test_line_frequency_construction_is_lazy(self, spark):
        from scrubah_pii_spark.operators.template import (
            line_frequency_templates,
        )

        df = spark.createDataFrame(
            [(str(i), "the same boilerplate line\nunique %d" % i)
             for i in range(4)],
            "url string, text string",
        )
        built = {}

        def construct():
            built["t"] = line_frequency_templates(df, "text", "url")

        assert self._jobs_run(spark, construct) == 0
        # self-check: the counter sees the action's jobs
        rows = []
        assert self._jobs_run(spark, lambda: rows.extend(built["t"].collect())) > 0
        assert [(r["trimmed"], r["doc_count"]) for r in rows] == [
            ("the same boilerplate line", 4)
        ]
