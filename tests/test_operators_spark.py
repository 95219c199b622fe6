"""Spark-level operator tests: dedup family, template stripping, similarity,
clustering, extraction, multimodal plumbing, streaming."""

import pytest
from pyspark.sql import functions as F

from scrubah_pii_spark.core.hashing import simhash_int
from scrubah_pii_spark.core.textstats import jaccard, word_set


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta common words here", "2024-01-01 10:00:00"),
        (2, "alpha beta gamma delta epsilon zeta common words here", "2024-01-02 10:00:00"),  # exact dup of 1
        (3, "alpha beta gamma delta epsilon zeta common words there", "2024-01-03 10:00:00"),  # near of 1
        (4, "completely different content about spacecraft and navigation", "2024-01-04 10:00:00"),
        (5, "totally unrelated text mentioning gardens and agriculture topics", "2024-01-05 10:00:00"),
    ]
    return spark.createDataFrame(
        [(i, t, ts) for i, t, ts in rows], "doc_id int, text string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))


class TestExactDedup:
    def test_window_marks_later_duplicate(self, docs_df):
        from dedup_reference import mark_exact_duplicates

        out = mark_exact_duplicates(
            docs_df.withColumn("url", F.col("doc_id").cast("string")),
            text_col="text", url_col="url", ts_col="ts",
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        assert not rows[1]["is_exact_dup"]
        assert rows[2]["is_exact_dup"] and rows[2]["exact_dup_of"] == "1"
        assert not rows[4]["is_exact_dup"]


class TestJaccardPairs:
    def test_matches_pure_python(self, spark, docs_df):
        from scrubah_pii_spark.operators.dedup import exact_jaccard_pairs

        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in exact_jaccard_pairs(docs_df, "text", "doc_id", threshold=0.3).collect()
        }
        from scrubah_pii_spark.operators.dedup import exact_jaccard_pairs_prefix

        prefix_pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in exact_jaccard_pairs_prefix(
                docs_df, "text", "doc_id", threshold=0.3
            ).collect()
        }
        rows = docs_df.collect()
        texts = {r["doc_id"]: r["text"] for r in rows}
        for a in texts:
            for b in texts:
                if a >= b:
                    continue
                j = jaccard(word_set(texts[a]), word_set(texts[b]))
                if j >= 0.3:
                    assert (a, b) in pairs
                    assert abs(pairs[(a, b)] - j) < 1e-9
                else:
                    assert (a, b) not in pairs
        # the prefix-filtered production variant is pair-for-pair identical
        assert prefix_pairs == pairs

    def test_prefix_variant_identical_on_corpus(self, spark, webpages):
        """AllPairs prefix filtering == naive definition on the 200-doc
        synthetic corpus at the reference threshold and a loose one."""
        from scrubah_pii_spark.operators.dedup import (
            exact_jaccard_pairs,
            exact_jaccard_pairs_prefix,
        )

        for t in (0.85, 0.5):
            naive = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs(
                    webpages, "text", "url", threshold=t
                ).collect()
            }
            pref = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs_prefix(
                    webpages, "text", "url", threshold=t
                ).collect()
            }
            assert pref == naive, f"threshold {t}: {len(pref)} vs {len(naive)}"

    def test_large_vocab_forces_prefix_path_identical(self, spark):
        """>64 distinct words fails the r8 bitmask gate, so this corpus
        exercises the general AllPairs prefix path — still pair-identical
        to the naive definition. (The small-vocab fixtures above now route
        through the bitmask branch, so without this corpus the prefix path
        would lose its equivalence coverage.)"""
        from scrubah_pii_spark.operators.dedup import (
            exact_jaccard_pairs,
            exact_jaccard_pairs_prefix,
            expand_jaccard_group_edges,
        )

        vocab = [f"word{i:03d}" for i in range(120)]
        docs = [
            (k, " ".join(vocab[k: k + 20] + vocab[: max(0, k + 20 - 120)]))
            for k in range(0, 110, 3)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for t in (0.85, 0.5):
            naive = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs(df, "text", "doc_id", threshold=t).collect()
            }
            pref = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs_prefix(
                    df, "text", "doc_id", threshold=t
                ).collect()
            }
            assert pref == naive, f"threshold {t}: {len(pref)} vs {len(naive)}"
            edges = exact_jaccard_pairs_prefix(
                df, "text", "doc_id", threshold=t, expand_groups=False
            )
            expanded = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in expand_jaccard_group_edges(edges).collect()
            }
            assert expanded == naive, f"threshold {t}: group edges diverged"

    def test_small_vocab_bitmask_path_identical(self, spark):
        """<=64-word vocabulary routes through the blocked-bitmask verify;
        duplicates, subsets, an all-short-words (empty-set) doc and exact
        threshold-boundary pairs must all match the naive definition."""
        from scrubah_pii_spark.operators.dedup import (
            exact_jaccard_pairs,
            exact_jaccard_pairs_prefix,
            expand_jaccard_group_edges,
        )

        vocab = [f"term{i}" for i in range(12)]
        docs = [(k, " ".join(vocab[j] for j in range(12) if (k >> j) & 1))
                for k in range(1, 60)]
        docs += [(100, docs[5][1]), (101, docs[5][1]), (102, "a b c of")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for t in (0.85, 0.5):
            naive = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs(df, "text", "doc_id", threshold=t).collect()
            }
            bm = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs_prefix(
                    df, "text", "doc_id", threshold=t
                ).collect()
            }
            assert bm == naive, f"threshold {t}: {len(bm)} vs {len(naive)}"
            edges = exact_jaccard_pairs_prefix(
                df, "text", "doc_id", threshold=t, expand_groups=False
            )
            expanded = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in expand_jaccard_group_edges(edges).collect()
            }
            assert expanded == naive, f"threshold {t}: group edges diverged"

    def test_group_edges_expand_to_pairs(self, spark, webpages):
        """Bounded group-edge output (expand_groups=False) loses nothing:
        expand_jaccard_group_edges(edges) == the full pair list, on a corpus
        with duplicate-heavy identical-set groups, at two thresholds."""
        from scrubah_pii_spark.operators.dedup import (
            exact_jaccard_pairs_prefix,
            expand_jaccard_group_edges,
        )

        # stack extra identical-set copies on top of the 200-doc corpus so
        # group expansion is actually exercised (m=5 group -> 10 pairs)
        base = webpages.select("url", "text")
        dup_src = base.limit(2)
        extra = None
        for i in range(4):
            c = dup_src.select(
                F.concat(F.col("url"), F.lit(f"#copy{i}")).alias("url"), "text"
            )
            extra = c if extra is None else extra.unionByName(c)
        corpus = base.unionByName(extra)

        for t in (0.85, 0.5):
            edges_df = exact_jaccard_pairs_prefix(
                corpus, "text", "url", threshold=t, expand_groups=False
            )
            edges = edges_df.collect()
            pairs = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in exact_jaccard_pairs_prefix(
                    corpus, "text", "url", threshold=t
                ).collect()
            }
            expanded = {
                (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
                for r in expand_jaccard_group_edges(edges_df).collect()
            }
            assert expanded == pairs, f"threshold {t}"
            # bounded form really is smaller on duplicate-heavy corpora
            assert len(edges) < len(pairs)
            # group edges: rep is the min member, 1.0 edges only within-group
            for r in edges:
                assert r["id_a"] < r["id_b"]


class TestMinHash:
    def test_identical_docs_estimate_one(self, spark):
        from scrubah_pii_spark.operators.dedup import (
            add_minhash_signature,
            minhash_dedup_pairs,
        )

        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today"),
             (2, "the quick brown fox jumps over the lazy dog today"),
             (3, "entirely different words compose this second document body")],
            "url int, text string",
        )
        sig = add_minhash_signature(df, "text", "url")
        pairs = {(r["url_a"], r["url_b"]): r["est_jaccard"]
                 for r in minhash_dedup_pairs(sig, "url").collect()}
        assert pairs.get((1, 2)) == 1.0
        assert (1, 3) not in pairs


class TestTemplateOps:
    def test_line_frequency_strip(self, spark):
        from scrubah_pii_spark.operators.template import (
            line_frequency_templates,
            strip_template_lines,
        )

        header = "SAINT EXAMPLE MEDICAL CENTER RECORDS DEPT"
        df = spark.createDataFrame(
            [(str(i), f"{header}\nbody text number {i}\nmore content {i}") for i in range(6)],
            "url string, text string",
        )
        tpl = line_frequency_templates(df, "text", "url")
        assert [r["trimmed"] for r in tpl.collect()] == [header]
        out = strip_template_lines(df, tpl, "text", "url")
        for r in out.collect():
            assert header not in r["stripped_text"]
            assert "body text" in r["stripped_text"]
            assert r["chars_removed"] > 0

    def test_ngram_corpus_fnv_parity(self, spark):
        from scrubah_pii_spark.core.hashing import (
            extract_ngrams,
            normalize_for_fingerprint,
        )
        from scrubah_pii_spark.operators.template import ngram_template_corpus

        block = "shared template line one\nshared template line two"
        df = spark.createDataFrame(
            [(str(i), f"{block}\nunique body {i} with more words") for i in range(4)],
            "url string, text string",
        )
        corpus = ngram_template_corpus(df, "text", "url")
        hashes = {r["hash"] for r in corpus.collect()}
        # the 2-line shared block must be in the corpus with FNV-1a parity
        expected = extract_ngrams(
            [normalize_for_fingerprint(l) for l in block.split("\n")], 2, 2
        )[0][0]
        assert expected in hashes


class TestSimilarity:
    def test_brute_force_topk(self, spark):
        from scrubah_pii_spark.operators.similarity import brute_force_topk

        vecs = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        vecs.append((4, [1.0, 0.1, 0.0, 0.0]))  # close to vec 0
        df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
        out = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        assert rows[0]["neighbor_id"] == 4  # highest cosine with vec 0

    def test_lsh_finds_same_bucket_neighbor(self, spark):
        from scrubah_pii_spark.operators.similarity import lsh_bucketed_topk

        vecs = [(i, [1.0 + 0.01 * i, 2.0, 3.0, 4.0]) for i in range(5)]
        df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
        out = lsh_bucketed_topk(df, df.filter(F.col("vec_id") == 0), k=3, dim=4)
        assert out.count() >= 1  # near-identical vectors share every bucket

    def test_ivf_assignment_and_ranking(self, spark):
        from scrubah_pii_spark.operators.similarity import ivf_topk

        # two well-separated clusters around orthogonal centroids
        c0, c1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
        vecs = []
        for i in range(5):
            vecs.append((i, [1.0, 0.02 * i, 0.0, 0.0]))        # cluster 0
            vecs.append((10 + i, [0.02 * i, 1.0, 0.0, 0.0]))   # cluster 1
        df = spark.createDataFrame(vecs, "vec_id int, embedding array<float>")
        centroids = [(0, c0), (1, c1)]
        q = df.filter(F.col("vec_id") == 0)

        # n_probe=1: every neighbor must come from cluster 0's cell
        out1 = ivf_topk(df, q, k=10, centroids=centroids, n_probe=1).collect()
        assert {r["neighbor_id"] for r in out1} == {1, 2, 3, 4}
        # within the probed cell, ranking is exact: by cosine desc
        ranked = sorted(out1, key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in ranked] == [1, 2, 3, 4]

        # n_probe=2 covers both cells -> identical to brute force here
        from scrubah_pii_spark.operators.similarity import brute_force_topk

        out2 = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in ivf_topk(df, q, k=3, centroids=centroids, n_probe=2).collect()
        }
        bf = {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in brute_force_topk(df, q, k=3).collect()
        }
        assert out2 == bf

    def test_ivf_tie_breaks_to_lowest_centroid(self, spark):
        from scrubah_pii_spark.operators.similarity import ivf_topk

        # vector equidistant from both (identical) centroids -> cell 0
        centroids = [(0, [1.0, 0.0]), (1, [1.0, 0.0])]
        df = spark.createDataFrame(
            [(7, [1.0, 0.0]), (8, [0.9, 0.1])], "vec_id int, embedding array<float>"
        )
        q = df.filter(F.col("vec_id") == 7)
        out = ivf_topk(df, q, k=5, centroids=centroids, n_probe=1).collect()
        # both vectors land in cell 0 (tie -> lowest id), so 8 is found
        assert [r["neighbor_id"] for r in out] == [8]


class TestClustering:
    def test_connected_components(self, spark):
        from scrubah_pii_spark.operators.clustering import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a int, id_b int"
        )
        labels = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
        assert labels[1] == labels[2] == labels[3] == 1
        assert labels[5] == labels[6] == 5

    def test_representatives(self, spark):
        from scrubah_pii_spark.operators.clustering import (
            connected_components,
            select_representatives,
        )

        pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
        clusters = connected_components(pairs)
        docs = spark.createDataFrame(
            [(1, 0.9), (2, 0.5), (3, 0.1)], "doc_id int, rep_score double"
        )
        out = {r["doc_id"]: r for r in
               select_representatives(docs, clusters, "doc_id").collect()}
        assert out[1]["is_representative"] and not out[2]["is_representative"]
        assert out[3]["is_representative"]  # singleton is its own rep

    def test_lsh_clusters_match_generic_cc(self, spark):
        """The bucket-local union-find (one shuffle, no iteration) must give
        exactly the same (node, cluster_id) labels as the generic star-
        contraction CC over cosine_pairs(exact=False) — same planes, same
        fold, same min-node-id labels."""
        import numpy as np

        from scrubah_pii_spark.operators.clustering import (
            connected_components,
            lsh_semantic_clusters,
        )
        from scrubah_pii_spark.operators.similarity import cosine_pairs

        rng = np.random.default_rng(7)
        base = rng.standard_normal((5, 16))
        vecs = []
        for i in range(60):  # 12 noisy copies of each of 5 base directions
            v = base[i % 5] + rng.standard_normal(16) * 0.05
            vecs.append((i, [float(x) for x in v]))
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

        fast = {
            (r["node"], r["cluster_id"])
            for r in lsh_semantic_clusters(
                emb, threshold=0.5, n_planes=4, dim=16
            ).collect()
        }
        pairs = cosine_pairs(emb, threshold=0.5, exact=False, n_planes=4, dim=16)
        slow = {
            (r["node"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert fast == slow and len(fast) > 0

    def test_fast_cosine_pairs_match_expression_path(self, spark):
        """lsh_cosine_pairs_fast (numpy + exact-fold boundary refinement)
        must emit the same pairs/tiers and the same 6-decimal cosines as the
        expression-fold cosine_pairs(exact=False)."""
        import numpy as np

        from scrubah_pii_spark.operators.similarity import (
            cosine_pairs,
            lsh_cosine_pairs_fast,
        )
        from pyspark.sql import functions as F

        rng = np.random.default_rng(11)
        base = rng.standard_normal((4, 16))
        vecs = [
            (i, [float(x) for x in (base[i % 4] + rng.standard_normal(16) * 0.1)])
            for i in range(40)
        ]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

        fast = {
            (r["id_a"], r["id_b"], r["cosine"], r["tier"])
            for r in lsh_cosine_pairs_fast(
                emb, threshold=0.5, n_planes=4, dim=16
            ).collect()
        }
        slow_df = cosine_pairs(emb, threshold=0.5, exact=False, n_planes=4, dim=16)
        slow = {
            (r["id_a"], r["id_b"], r["cosine"], r["tier"])
            for r in slow_df.select(
                "id_a", "id_b", F.round("cosine", 6).alias("cosine"), "tier"
            ).collect()
        }
        assert fast == slow and len(fast) > 0

    def test_fast_cosine_pairs_identical_mega_cluster(self, spark):
        """Round-6: identical embeddings are collapsed to one gram row per
        DISTINCT vector; a mega-cluster of identical docs must still emit
        every within-cluster pair (cosine 1.0, duplicate) and match the
        expression path exactly."""
        import numpy as np

        from scrubah_pii_spark.operators.similarity import (
            cosine_pairs,
            lsh_cosine_pairs_fast,
        )
        from pyspark.sql import functions as F

        rng = np.random.default_rng(7)
        boiler = [float(x) for x in rng.standard_normal(16)]
        vecs = [(i, list(boiler)) for i in range(30)]  # identical cluster
        vecs += [
            (100 + i, [float(x) for x in rng.standard_normal(16)])
            for i in range(10)
        ]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

        fast = {
            (r["id_a"], r["id_b"], r["cosine"], r["tier"])
            for r in lsh_cosine_pairs_fast(
                emb, threshold=0.5, n_planes=4, dim=16
            ).collect()
        }
        slow = {
            (r["id_a"], r["id_b"], r["cosine"], r["tier"])
            for r in cosine_pairs(emb, threshold=0.5, exact=False, n_planes=4, dim=16)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"), "tier")
            .collect()
        }
        assert fast == slow
        within = {p for p in fast if p[0] < 30 and p[1] < 30}
        assert len(within) == 30 * 29 // 2
        assert all(p[2] == 1.0 and p[3] == "duplicate" for p in within)


    def test_fast_cosine_pairs_nonfinite_embedding_dropped(self, spark):
        """ADVICE r7: a duplicated embedding containing inf makes its
        within-group gram diagonal inf/inf = NaN; decide() must drop the
        pair (the pre-collapse code's threshold prefilter silently excluded
        it) instead of crashing the Arrow task on math.floor(nan)."""
        import numpy as np

        from scrubah_pii_spark.operators.similarity import lsh_cosine_pairs_fast

        rng = np.random.default_rng(3)
        bad = [float("inf")] + [0.0] * 15
        vecs = [(0, list(bad)), (1, list(bad))]  # identical inf pair
        vecs += [
            (10 + i, [float(x) for x in rng.standard_normal(16)])
            for i in range(6)
        ]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        rows = lsh_cosine_pairs_fast(
            emb, threshold=0.5, n_planes=4, dim=16
        ).collect()  # must not raise
        assert not [r for r in rows if {r["id_a"], r["id_b"]} == {0, 1}]


class TestExtractionOp:
    def test_array_struct_columns(self, spark):
        from scrubah_pii_spark.operators.extraction_op import add_extraction

        df = spark.createDataFrame(
            [(1, "WBC: 12.5 x10E3/uL and BP: 140/90. Diagnosis E11.9. CT clear.")],
            "doc_id int, text string",
        )
        row = add_extraction(df, "text").collect()[0]
        labs = {l["test"]: l for l in row["labs"]}
        assert labs["WBC"]["status"] == "HIGH"
        assert row["icd10_codes"] == ["E11.9"]
        assert "CT" in row["modalities"]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        from scrubah_pii_spark.operators.multimodal import extract_media_features

        df = spark.createDataFrame(
            [(1, bytearray(b"fake-image-bytes")), (2, None)],
            "media_id int, payload binary",
        )
        rows = {r["media_id"]: r["media"] for r in
                extract_media_features(df).collect()}
        assert rows[1]["byte_len"] == 16
        assert len(rows[1]["features"]) == 8
        assert rows[1]["error"] is None
        assert rows[2]["byte_len"] == 0  # None payload handled, no task failure


class TestStreaming:
    def test_streaming_transform_runs(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import datetime as dt

        from scrubah_pii_spark.streaming.stream import (
            read_webpage_stream,
            streaming_transform,
        )

        text = (
            "The patient was admitted with pneumonia and treated with therapy. "
            "Condition improved and the patient was discharged home in stable "
            "condition with follow up care arranged for the coming weeks."
        )
        indir = tmp_path / "in"
        indir.mkdir()
        table = pa.table({
            "url": ["u1", "u1", "u2"],  # u1 duplicated -> dropDuplicates
            "warc_ts": pa.array([dt.datetime(2024, 1, 1)] * 3, pa.timestamp("us")),
            "html": pa.array([None, None, None], pa.binary()),
            "text": [text, text, text + " second"],
            "lang": ["en"] * 3,
        })
        pq.write_table(table, str(indir / "batch0.parquet"))

        out = streaming_transform(read_webpage_stream(spark, str(indir)))
        q = (
            out.writeStream.format("memory")
            .queryName("stream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from stream_test").collect()
        assert len(rows) == 2  # u1 deduped
        by_url = {r["url"]: r for r in rows}
        assert by_url["u1"]["recommendation"] in ("keep", "demote")
        assert by_url["u1"]["scrubbed_text"] is not None
