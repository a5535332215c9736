"""Connected-components clustering + cross-document passage dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ndr_import_spark.operators import dedup
from ndr_import_spark.operators.corpus import passage_dedup
from ndr_import_spark.operators.dedup import connected_components


class TestConnectedComponents:
    def _comp(self, spark, edges):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }

    def test_chain_collapses_to_min(self, spark):
        # 1-2, 2-3, 3-4: never-compared (1,4) must share a component
        got = self._comp(spark, [(1, 2), (2, 3), (3, 4)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    def test_multiple_components(self, spark):
        got = self._comp(spark, [(5, 9), (9, 7), (20, 30), (40, 41), (41, 40)])
        assert got == {5: 5, 9: 5, 7: 5, 20: 20, 30: 20, 40: 40, 41: 40}

    def test_long_chain_within_iteration_budget(self, spark):
        # a 20-node path needs ~19 propagation rounds worst-case from one
        # end; min-label flows from node 0 so diameter bounds rounds
        edges = [(i, i + 1) for i in range(19)]
        got = self._comp(spark, edges)
        assert set(got.values()) == {0}
        assert len(got) == 20

    def test_empty_pairs(self, spark):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(pairs).count() == 0

    def test_propagation_budget_exhaustion_raises(self, spark):
        # algorithm="propagation" preserves the round-3 contract: raise
        # on a chain longer than the budget rather than return split
        # clusters
        edges = [(i, i + 1) for i in range(30)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(
                pairs, max_iterations=5, algorithm="propagation"
            ).collect()

    @pytest.mark.parametrize(
        "max_edges", [0, 10**9], ids=["distributed", "driver"]
    )
    def test_auto_falls_back_to_star_on_long_chain(
        self, spark, monkeypatch, max_edges
    ):
        # a 10_000-node path has diameter 9_999: propagation alone would
        # exhaust any sane budget; auto must contract through the partial
        # labels and finish with large-star/small-star. The chain fits
        # the driver path, so "distributed" forces the star fallback
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", max_edges)
        n = 10_000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        ).repartition(8)
        labels = connected_components(pairs, max_iterations=6).collect()
        assert len(labels) == n
        assert {r["component"] for r in labels} == {0}

    def test_star_matches_propagation_on_mixed_graph(self, spark):
        # several components of different shapes: chain, triangle with a
        # tail, isolated edge, self-loop-ish pair
        edges = (
            [(i, i + 1) for i in range(10, 18)]  # chain 10..18
            + [(1, 2), (2, 3), (3, 1), (3, 4)]  # triangle + tail
            + [(100, 200)]
            + [(7, 7)]  # degenerate self-pair: node must still appear
        )
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        prop = {
            r["node"]: r["component"]
            for r in connected_components(
                pairs, algorithm="propagation"
            ).collect()
        }
        star = {
            r["node"]: r["component"]
            for r in connected_components(pairs, algorithm="star").collect()
        }
        assert star == prop
        assert star[7] == 7 and star[18] == 10 and star[4] == 1

    def test_unknown_algorithm_rejected(self, spark):
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="unknown"):
            connected_components(pairs, algorithm="bogus")


MIXED_GRAPH = (
    [(i, i + 1) for i in range(10, 18)]  # chain 10..18
    + [(1, 2), (2, 3), (3, 1), (3, 4)]  # triangle + tail
    + [(100, 200)]
    + [(7, 7)]  # degenerate self-pair: node must still appear
)


class TestDriverFinish:
    """Graphs of at most `LOCAL_CC_MAX_EDGES` edge rows finish with
    union-find on the driver; larger ones take the distributed path. The
    limit is forced to 0 (always distributed) and to 10**9 (always on the
    driver): both must give the same (node, component) rows."""

    def _rows(self, monkeypatch, max_edges, pairs, **kw):
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", max_edges)
        comp = connected_components(pairs, **kw)
        rows = sorted((tuple(r) for r in comp.collect()), key=repr)
        return rows, comp.schema.simpleString()

    def _parity(self, monkeypatch, pairs, **kw):
        dist = self._rows(monkeypatch, 0, pairs, **kw)
        local = self._rows(monkeypatch, 10**9, pairs, **kw)
        assert local == dist
        return local[0]

    @pytest.mark.parametrize("algorithm", ["auto", "star"])
    def test_mixed_graph(self, spark, monkeypatch, algorithm):
        pairs = spark.createDataFrame(MIXED_GRAPH, "id_a long, id_b long")
        got = dict(self._parity(monkeypatch, pairs, algorithm=algorithm))
        assert got[7] == 7 and got[18] == 10 and got[4] == 1 and got[200] == 100

    @pytest.mark.parametrize("algorithm", ["auto", "star"])
    def test_null_id_is_its_own_component(self, spark, monkeypatch, algorithm):
        pairs = spark.createDataFrame(
            [(1, None), (2, None), (None, 5), (3, 4)], "id_a long, id_b long"
        )
        got = self._parity(monkeypatch, pairs, algorithm=algorithm)
        assert got == [(1, 1), (2, 2), (3, 3), (4, 3), (5, 5), (None, None)]

    @pytest.mark.parametrize("algorithm", ["auto", "star"])
    def test_string_ids(self, spark, monkeypatch, algorithm):
        pairs = spark.createDataFrame(
            [("b", "c"), ("c", "d"), ("a", "b"), ("x", "y"), ("q", "q")],
            "id_a string, id_b string",
        )
        got = dict(self._parity(monkeypatch, pairs, algorithm=algorithm))
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                       "q": "q", "x": "x", "y": "x"}

    @pytest.mark.parametrize("algorithm", ["auto", "star"])
    def test_empty_pairs(self, spark, monkeypatch, algorithm):
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert self._parity(monkeypatch, pairs, algorithm=algorithm) == []

    def test_long_chain(self, spark, monkeypatch):
        n = 10_000
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        ).repartition(8)
        got = self._parity(monkeypatch, pairs, max_iterations=6)
        assert dict(got) == dict.fromkeys(range(n), 0)

    def test_driver_path_keeps_nothing_cached(self, spark, monkeypatch):
        monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", 10**9)
        pairs = spark.createDataFrame(MIXED_GRAPH, "id_a long, id_b long")
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        comp = connected_components(pairs)
        # no cache and no checkpoint stays behind: the result is a
        # driver-local relation
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
        assert comp._jdf.queryExecution().optimizedPlan().toString().startswith(
            "LocalRelation"
        )

    def test_job_counts(self, spark, monkeypatch):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        pairs = spark.createDataFrame(MIXED_GRAPH, "id_a long, id_b long")

        def jobs(max_edges, algorithm):
            monkeypatch.setattr(dedup, "LOCAL_CC_MAX_EDGES", max_edges)
            group = f"cc-{max_edges}-{algorithm}"
            sc.setJobGroup(group, group)
            try:
                connected_components(pairs, algorithm=algorithm).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(tracker.getJobIdsForGroup(group))

        # "propagation" skips the size check: it is the distributed path
        # alone, as "auto" ran it before the driver path existed
        rounds = jobs(0, "propagation")
        # driver path: the edges' shuffle stage and the size check's read
        # (Spark's limit scans the first partition, then the rest)
        assert jobs(10**9, "auto") <= 3
        assert jobs(10**9, "star") <= 3
        # distributed path: the size check adds one job
        assert jobs(0, "auto") <= rounds + 1
        assert rounds > 10


class TestPassageDedup:
    def test_repeated_passage_kept_once(self, spark):
        boiler = " ".join(f"w{i}" for i in range(4))
        df = spark.createDataFrame(
            [
                (1, boiler + " unique one"),
                (2, boiler + " unique two"),
                (3, "totally different text here"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in passage_dedup(df, passage_words=4).collect()
        }
        # doc 1: passages [boiler, 'unique one'] both first-seen
        assert out[1]["n_passages"] == 2 and out[1]["n_kept"] == 2
        # doc 2: boiler passage already seen in doc 1 -> dropped
        assert out[2]["n_passages"] == 2 and out[2]["n_kept"] == 1
        assert out[3]["n_kept"] == out[3]["n_passages"]

    def test_within_document_repeat_dropped(self, spark):
        p = "a b c d"
        df = spark.createDataFrame(
            [(1, f"{p} {p}")], "doc_id long, text string"
        )
        row = passage_dedup(df, passage_words=4).collect()[0]
        assert row["n_passages"] == 2
        assert row["n_kept"] == 1

    def test_clean_md5_matches_rebuilt_text(self, spark):
        import hashlib

        df = spark.createDataFrame(
            [(1, "a b c d e f g h")], "doc_id long, text string"
        )
        row = passage_dedup(df, passage_words=4).collect()[0]
        expect = hashlib.md5(b"a b c d e f g h").hexdigest()
        assert row["clean_md5"] == expect


class TestSimhashHammingPairs:
    def test_near_identical_docs_pair_up(self, spark):
        from ndr_import_spark.operators.dedup import simhash_hamming_pairs

        # a wide-vocabulary base keeps per-bit votes away from zero, so a
        # one-token drift flips at most a few signature bits
        base = " ".join(f"tok{i}" for i in range(40))
        df = spark.createDataFrame(
            [
                (1, base),
                (2, base),                      # identical -> distance 0
                (3, base + " iota"),            # tiny drift (1 bit here)
                (4, "completely different words nothing shared here at all"),
            ],
            "doc_id long, text string",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_hamming_pairs(df, max_distance=3).collect()
        }
        assert pairs.get((1, 2)) == 0
        assert (1, 3) in pairs and pairs[(1, 3)] <= 3
        assert not any(4 in p for p in pairs)

    def test_recall_guard(self, spark):
        from ndr_import_spark.operators.dedup import simhash_hamming_pairs

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="bands - 1"):
            simhash_hamming_pairs(df, bands=4, max_distance=4)


class TestConvergenceGuard:
    def test_long_chain_exhausts_budget_raises(self, spark):
        import pytest as _pytest

        from ndr_import_spark.operators.dedup import connected_components

        # a 10-node path graph has diameter 9: 3 propagation rounds
        # cannot finish — algorithm="propagation" must refuse to return
        # the partially-propagated labels (auto instead falls back to
        # star contraction, covered in TestConnectedComponents)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(9)], "id_a long, id_b long"
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iterations=3, algorithm="propagation")
        # the default (auto) converges on the same budget via star
        auto = connected_components(pairs, max_iterations=3)
        assert {r["component"] for r in auto.collect()} == {0}
        # and a sufficient budget converges to one component
        comp = connected_components(pairs, max_iterations=15)
        assert {r["component"] for r in comp.collect()} == {0}


class TestLshQualityReport:
    def test_planted_near_dups_are_recalled(self, spark):
        from ndr_import_spark.operators.dedup import lsh_quality_report

        base = "the quick brown fox jumps over the lazy dog " * 4
        rows = [(i, base + f"tail variant {i}") for i in range(6)]
        # plus unrelated docs that must not pollute truth
        rows += [(10 + i, f"completely different text number {i} " * 6)
                 for i in range(4)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["metric"]: r["value"]
               for r in lsh_quality_report(df, sample_max_id=100).collect()}
        # at least the 15 near-dup pairs of the 6 planted variants are
        # truth (the filler docs may add their own pairs), and the banded
        # index recalls every one of them
        assert out["n_truth"] >= 15.0
        assert out["recall"] == 1.0
        assert out["n_hits"] == out["n_truth"]
        assert 0.0 < out["precision"] <= 1.0

    def test_sample_bound_is_respected(self, spark):
        from ndr_import_spark.operators.dedup import lsh_quality_report

        dup = "repeated passage for the sampler " * 5
        df = spark.createDataFrame(
            [(1, dup), (2, dup), (500, dup)], "doc_id long, text string"
        )
        out = {r["metric"]: r["value"]
               for r in lsh_quality_report(df, sample_max_id=300).collect()}
        # doc 500 is outside the sample: only the (1,2) pair counts
        assert out["n_truth"] == 1.0 and out["n_hits"] == 1.0


class TestHotBucketCap:
    """r7: saturated band buckets (small vocab / boilerplate-heavy
    corpora — every long doc shares the global shingle minima) turn the
    verify join quadratic; measured at sf10 one 4,771-doc bucket alone
    contributed ~23M candidate pairs and exhausted an 80 GB disk. The
    cap (default 1024) skips such buckets; None restores exact LSH."""

    def _saturated(self, spark, n=40):
        # tiny 3-word vocab: every doc covers the whole shingle space,
        # so all signatures (and all band keys) coincide
        text = "aa bb cc " * 30
        rows = [(i, text) for i in range(n)]
        # plus one genuinely distinct near-dup pair outside the bucket
        rows += [(1000, "unique words here flow gently down the river"),
                 (1001, "unique words here flow gently down the stream")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_skips_saturated_bucket_keeps_normal_pairs(self, spark):
        from ndr_import_spark.operators.dedup import minhash_lsh_pairs

        df = self._saturated(spark)
        capped = minhash_lsh_pairs(
            df, k=16, bands=4, verify_threshold=0.5, max_bucket_size=10
        )
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        # saturated docs produce no pairs; the distinct near-dup survives
        assert got == {(1000, 1001)}

    def test_uncapped_form_still_exact(self, spark):
        from ndr_import_spark.operators.dedup import minhash_lsh_pairs

        df = self._saturated(spark, n=12)
        full = minhash_lsh_pairs(
            df, k=16, bands=4, verify_threshold=0.5, max_bucket_size=None
        )
        got = {(r["id_a"], r["id_b"]) for r in full.collect()}
        assert (1000, 1001) in got
        assert len(got) == 12 * 11 // 2 + 1  # all saturated pairs found

    def test_default_cap_is_on(self):
        import inspect

        from ndr_import_spark.operators.dedup import (
            incremental_neardup_pairs,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        for fn in (minhash_lsh_pairs, ngram_jaccard_pairs,
                   incremental_neardup_pairs):
            sig = inspect.signature(fn)
            assert sig.parameters["max_bucket_size"].default == 1024, fn

    def test_incremental_probe_caps_too(self, spark):
        from ndr_import_spark.operators.dedup import incremental_neardup_pairs

        text = "aa bb cc " * 30
        old = spark.createDataFrame(
            [(i, text) for i in range(20)]
            + [(90, "unique words here flow gently down the river")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(100 + i, text) for i in range(20)]
            + [(190, "unique words here flow gently down the stream")],
            "doc_id long, text string",
        )
        got = {
            (r["new_id"], r["old_id"])
            for r in incremental_neardup_pairs(
                old, new, max_bucket_size=10
            ).collect()
        }
        assert got == {(190, 90)}


class TestStarEdges:
    """r7: the linear star-edge LSH form for cluster consumers."""

    def test_components_match_pairwise_on_real_corpus(self, spark):
        from ndr_import_spark.operators.dedup import (
            connected_components,
            minhash_lsh_pairs,
            minhash_lsh_star_edges,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet"
        )
        cp = {
            (r["node"], r["component"])
            for r in connected_components(
                minhash_lsh_pairs(docs, verify_threshold=0.5)
            ).collect()
        }
        cs = {
            (r["node"], r["component"])
            for r in connected_components(
                minhash_lsh_star_edges(docs, verify_threshold=0.5)
            ).collect()
        }
        assert cp == cs and cp

    def test_saturated_bucket_is_linear_not_quadratic(self, spark):
        from ndr_import_spark.operators.dedup import minhash_lsh_star_edges

        n = 40
        text = "aa bb cc " * 30
        df = spark.createDataFrame(
            [(i, text) for i in range(n)], "doc_id long, text string"
        )
        edges = minhash_lsh_star_edges(
            df, verify_threshold=0.5
        ).collect()
        # every member links to the one anchor: n-1 edges, not n(n-1)/2
        assert len(edges) == n - 1
        assert all(r["id_a"] == 0 for r in edges)
