"""Corpus-shaping operators (operators/sampling.py): skew-safe per-host
top-N and cross-document duplicate-span removal.

The load-bearing test is the rewrite-equivalence one: the salted two-phase
host cap must equal the naive single-window plan on a deliberately skewed
corpus (one mega-host), for several salt_buckets values. The dup-span tests
pin the semantics on hand-computed cases including the <n-words guard."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from scrubah_pii_spark.operators.sampling import dup_span_strip, host_cap_topn


def _skewed_docs(spark):
    # host "mega" has 400 docs, 9 small hosts have 5 each; scores collide
    # heavily so the doc_id tiebreaker matters.
    rows = []
    for i in range(400):
        rows.append((i, "mega", i % 7))
    for h in range(9):
        for j in range(5):
            rows.append((1000 + h * 10 + j, f"h{h}", j % 3))
    return spark.createDataFrame(rows, "doc_id long, host string, score long")


def _naive_topn(df, n):
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


class TestHostCap:
    def test_equals_single_window_on_skew(self, spark):
        df = _skewed_docs(spark)
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        expected = sorted(
            _naive_topn(df, 10).select("doc_id", "host", "rank").collect()
        )
        for buckets in (1, 2, 16):
            got = sorted(
                host_cap_topn(df, "host", order, n=10, salt_buckets=buckets)
                .select("doc_id", "host", "rank")
                .collect()
            )
            assert got == expected, f"salt_buckets={buckets} diverged"

    def test_host_smaller_than_n_kept_whole(self, spark):
        df = _skewed_docs(spark)
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        out = host_cap_topn(df, "host", order, n=10)
        small = out.filter(F.col("host") != "mega").groupBy("host").count()
        assert all(r["count"] == 5 for r in small.collect())
        assert out.filter(F.col("host") == "mega").count() == 10

    def test_ranks_are_dense_1_to_n(self, spark):
        df = _skewed_docs(spark)
        order = [F.col("score").desc(), F.col("doc_id").asc()]
        out = host_cap_topn(df, "host", order, n=10)
        ranks = [
            r["rank"]
            for r in out.filter(F.col("host") == "mega")
            .orderBy("rank")
            .collect()
        ]
        assert ranks == list(range(1, 11))


class TestDupSpanStrip:
    def _strip(self, spark, docs, n=3, min_df=2):
        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {
            r["doc_id"]: r
            for r in dup_span_strip(df, n=n, min_df=min_df).collect()
        }

    def test_frequent_trigram_stripped_everywhere(self, spark):
        docs = [
            (1, "x the quick fox y"),
            (2, "a the quick fox b"),
            (3, "no shared span here"),
        ]
        out = self._strip(spark, docs)
        assert out[1]["cleaned_text"] == "x y"
        assert out[1]["n_words_dropped"] == 3
        assert out[2]["cleaned_text"] == "a b"
        assert out[3]["cleaned_text"] == "no shared span here"
        assert out[3]["n_words_dropped"] == 0

    def test_overlapping_spans_union_coverage(self, spark):
        # "b c d" and "c d e" both frequent -> covered words b..e, not just
        # one span.
        docs = [(1, "a b c d e f"), (2, "b c d e"), (3, "zz b c d e zz2")]
        out = self._strip(spark, docs)
        assert out[1]["cleaned_text"] == "a f"
        assert out[1]["n_words_kept"] == 2
        assert out[2]["cleaned_text"] is None  # every word dropped -> NULL
        assert out[2]["n_words_kept"] == 0

    def test_short_docs_guarded(self, spark):
        # docs with < n words must produce zero grams (the sequence(0,-1)
        # descending-array trap) and pass through untouched.
        docs = [(1, "one two"), (2, "solo"), (3, "a b c"), (4, "a b c")]
        out = self._strip(spark, docs)
        assert out[1]["cleaned_text"] == "one two"
        assert out[2]["cleaned_text"] == "solo"
        assert out[3]["cleaned_text"] is None  # "a b c" df=2 -> stripped

    def test_min_df_threshold_exclusive_below(self, spark):
        docs = [(1, "p q r s"), (2, "p q r t")]
        # min_df=3: "p q r" appears in only 2 docs -> kept
        out = self._strip(spark, docs, min_df=3)
        assert out[1]["cleaned_text"] == "p q r s"

    def test_fully_stripped_doc_matches_oracle(self, spark):
        """A doc whose every word is dropped: Spark and the DuckDB oracle
        must both give NULL cleaned_text (Spark's array_join used to write
        '' where DuckDB's array_to_string([]) is NULL)."""
        import duckdb
        import pandas as pd

        from scrubah_pii_spark.oracles_sql import sql_dup_span_strip

        docs = [(i, "x y z") for i in range(5)]
        docs += [(5, "x y z w v"), (6, "a b c d")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = sorted(
            tuple(r) for r in dup_span_strip(df, n=3, min_df=5).collect()
        )
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
        want = sorted(con.execute(sql_dup_span_strip(n=3, min_df=5)).fetchall())
        con.close()
        assert got == want
        assert got[0] == (0, None, 0, 3)


class TestChunkDedup:
    def _run(self, spark, docs, cw=2):
        from scrubah_pii_spark.operators.sampling import chunk_dedup

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=cw).collect()}

    def test_first_occurrence_wins_globally(self, spark):
        # 2-word chunks: doc1 = [a b][c d]; doc2 = [a b][x y]
        out = self._run(spark, [(1, "a b c d"), (2, "a b x y")])
        assert out[1]["cleaned_text"] == "a b c d"
        assert out[2]["cleaned_text"] == "x y"
        assert out[2]["n_chunks_dropped"] == 1

    def test_doc_fully_dropped_keeps_empty_row(self, spark):
        out = self._run(spark, [(1, "a b c d"), (2, "a b"), (3, "c d")])
        assert out[2]["cleaned_text"] == ""
        assert out[2]["n_chunks_kept"] == 0
        assert out[2]["n_chunks_dropped"] == 1
        assert out[3]["cleaned_text"] == ""

    def test_within_doc_duplicate_chunk_dropped(self, spark):
        out = self._run(spark, [(1, "a b a b c d")])
        assert out[1]["cleaned_text"] == "a b c d"
        assert out[1]["n_chunks_dropped"] == 1

    def test_partial_tail_chunk(self, spark):
        # 5 words, cw=2 -> chunks [a b][c d][e]; [e] unique
        out = self._run(spark, [(1, "a b c d e")])
        assert out[1]["cleaned_text"] == "a b c d e"
        assert out[1]["n_chunks_kept"] == 3


class TestStratifiedSample:
    def _df(self, spark):
        rows = [(i, "big") for i in range(200)] + [
            (1000 + i, "small") for i in range(20)
        ]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_matches_python_lcg_exactly(self, spark):
        from scrubah_pii_spark.operators.sampling import (
            _LCG_A, _LCG_C, _LCG_M, stratified_sample,
        )

        df = self._df(spark)
        got = sorted(
            r["doc_id"]
            for r in stratified_sample(df, "lang", cap=50).collect()
        )
        def h(i):
            return ((i % _LCG_M) * _LCG_A + _LCG_C) % _LCG_M
        want = sorted(
            [i for i in range(200) if h(i) * 200 < 50 * _LCG_M]
            + [1000 + i for i in range(20)]  # under cap: kept whole
        )
        assert got == want

    def test_deterministic_across_runs(self, spark):
        from scrubah_pii_spark.operators.sampling import stratified_sample

        df = self._df(spark)
        a = sorted(r["doc_id"] for r in stratified_sample(df, "lang", 50).collect())
        b = sorted(r["doc_id"] for r in stratified_sample(df, "lang", 50).collect())
        assert a == b and len(a) > 0

    def test_under_cap_stratum_kept_whole(self, spark):
        from scrubah_pii_spark.operators.sampling import stratified_sample

        out = stratified_sample(self._df(spark), "lang", cap=50)
        assert out.filter("lang = 'small'").count() == 20


class TestPipelineShaping:
    """shape_output: default-off must be a no-op (the byte-identical output
    goldens depend on it); opted-in caps must bound hosts/langs and stay
    deterministic across runs."""

    @pytest.fixture(scope="class")
    def base(self, webpages):
        from scrubah_pii_spark.plans.pipeline import run_pipeline

        res = run_pipeline(webpages)
        rows = sorted(
            (r["url"], r["warc_ts"]) for r in res.output.collect()
        )
        return res, rows

    def test_default_off_is_noop(self, webpages, base):
        from scrubah_pii_spark.config import PipelineConfig
        from scrubah_pii_spark.plans.pipeline import run_pipeline

        _, rows = base
        res2 = run_pipeline(webpages, PipelineConfig())
        rows2 = sorted((r["url"], r["warc_ts"]) for r in res2.output.collect())
        assert rows2 == rows

    def test_host_cap_bounds_every_host(self, webpages):
        from scrubah_pii_spark.config import PipelineConfig, ShapingConfig
        from scrubah_pii_spark.plans.pipeline import run_pipeline

        cfg = PipelineConfig(shaping=ShapingConfig(host_cap_n=3))
        out = run_pipeline(webpages, cfg).output
        per_host = out.groupBy("host").count().collect()
        assert len(per_host) > 0
        assert all(r["count"] <= 3 for r in per_host)
        # schema unchanged by shaping
        assert out.columns[:5] == ["url", "warc_ts", "crawl_date", "url_bucket", "host"]

    def test_lang_cap_deterministic_and_bounded_in_expectation(self, webpages, base):
        from scrubah_pii_spark.config import PipelineConfig, ShapingConfig
        from scrubah_pii_spark.plans.pipeline import run_pipeline

        _, rows = base
        cfg = PipelineConfig(shaping=ShapingConfig(lang_cap=5))
        a = run_pipeline(webpages, cfg).output
        rows_a = sorted((r["url"], r["warc_ts"]) for r in a.collect())
        rows_b = sorted(
            (r["url"], r["warc_ts"])
            for r in run_pipeline(webpages, cfg).output.collect()
        )
        assert rows_a == rows_b          # deterministic keep/drop
        assert set(rows_a) <= set(rows)  # strictly a subset of the unshapen output
        assert len(rows_a) <= len(rows)


class TestNullTextGuards:
    """NULL text must behave as '' (round-6 fix): without the coalesce,
    size(split(NULL)) = -1 under legacy sizeOfNull and sequence(0, -2)
    silently yields a DESCENDING range, producing garbage rows."""

    def test_dup_span_strip_null_text(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "a b c")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in dup_span_strip(df, n=3, min_df=2).collect()}
        assert out[1]["cleaned_text"] == ""
        assert out[1]["n_words_dropped"] == 0
        assert out[1]["n_words_kept"] >= 0

    def test_chunk_dedup_null_text(self, spark):
        from scrubah_pii_spark.operators.sampling import chunk_dedup

        df = spark.createDataFrame(
            [(1, None), (2, "a b c d")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in chunk_dedup(df, chunk_words=2).collect()}
        assert out[1]["cleaned_text"] == ""
        assert out[1]["n_chunks_dropped"] >= 0
        assert out[2]["cleaned_text"] == "a b c d"


class TestStratifiedSampleOverflow:
    """The keep predicate must not form h * n (int64 overflow once a stratum
    exceeds ~2^32 rows). The div form h <= (cap*M - 1) div n is the same
    integer condition for every n >= 1, h in [0, M)."""

    def test_div_identity_exhaustive_boundaries(self):
        from scrubah_pii_spark.operators.sampling import _LCG_M

        cap = 100
        c = cap * _LCG_M
        for n in (1, 2, 99, 100, 101, 2**31, 2**32, 10**12, 10**13):
            thr = (c - 1) // n
            # boundary hashes around the threshold plus the extremes
            for h in {0, 1, thr - 1, thr, thr + 1, _LCG_M - 1} - {-1}:
                if h < 0 or h >= _LCG_M:
                    continue
                assert (h <= thr) == (h * n < c), (n, h)

    def test_spark_predicate_free_of_product(self, spark):
        # the physical plan must not multiply the hash by _n
        from scrubah_pii_spark.operators.sampling import stratified_sample

        rows = [(i, "x") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        plan = stratified_sample(df, "lang", cap=10)._jdf.queryExecution().optimizedPlan().toString()
        assert "div" in plan
        assert "* _n" not in plan and "_n *" not in plan

    def test_cap_range_guard(self, spark):
        from scrubah_pii_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
        with pytest.raises(ValueError):
            stratified_sample(df, "lang", cap=2**33)


class TestDupSpanStripLinear:
    """Round-6 rewrite: the coverage mask must stay linear per doc. The old
    per-position exists() was O(words x starts); an all-frequent-grams doc
    with 50k words would take minutes. Keep a generous wall bound so the
    test only fails if the quadratic shape returns."""

    def test_all_frequent_grams_doc_completes_fast(self, spark):
        import time

        body = " ".join(["tok%d" % (i % 40) for i in range(50_000)])
        # 5 identical huge docs -> every 3-gram has df=5 >= min_df
        df = spark.createDataFrame(
            [(i, body) for i in range(5)], "doc_id long, text string"
        )
        t0 = time.monotonic()
        out = {r["doc_id"]: r for r in dup_span_strip(df, n=3, min_df=5).collect()}
        wall = time.monotonic() - t0
        assert out[1]["cleaned_text"] is None
        assert out[1]["n_words_dropped"] == 50_000
        assert wall < 60, f"coverage mask no longer linear: {wall:.1f}s"

    def test_kept_positions_stay_in_document_order(self, spark):
        # frequent gram in the MIDDLE: order of survivors must be stable
        docs = [(i, f"u{i} a b c v{i} w{i}") for i in range(5)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dup_span_strip(df, n=3, min_df=5).collect()}
        assert out[2]["cleaned_text"] == "u2 v2 w2"
        assert out[2]["n_words_kept"] == 3


class TestCapZeroGuard:
    def test_cap_zero_raises(self, spark):
        """ADVICE r7: cap=0 must not reach the div predicate — _c = -1 and
        Spark's truncating div gives -1 div n = 0, which KEEPS docs whose
        hash is exactly 0 (the old product predicate kept none)."""
        import pytest as _pytest

        from scrubah_pii_spark.operators.sampling import stratified_sample

        df = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
        with _pytest.raises(ValueError):
            stratified_sample(df, "lang", cap=0)
