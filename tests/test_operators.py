"""Operator unit tests with hand-computable golden expectations."""

import datetime
import math

from pyspark.sql import functions as F

from ayeaye_spark.operators import dedup, multimodal, relational, similarity


def ts(s):
    return datetime.datetime.fromisoformat(s)


def _fold_cos(a, b):
    """Cosine in the oracle's fold order: each sum starts at +0.0 and
    adds one component product at a time, left to right."""
    dot = n1 = n2 = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        n1 += x * x
    for y in b:
        n2 += y * y
    return dot / (math.sqrt(n1) * math.sqrt(n2))


class TestAsofJoin:
    def test_backward_match(self, spark):
        left = spark.createDataFrame(
            [(1, "u1", ts("2024-01-01T10:00:00")), (2, "u1", ts("2024-01-01T12:00:00")),
             (3, "u2", ts("2024-01-01T09:00:00"))],
            ["event_id", "user", "t"],
        )
        right = spark.createDataFrame(
            [("u1", ts("2024-01-01T09:30:00"), 1.0), ("u1", ts("2024-01-01T11:00:00"), 2.0),
             ("u2", ts("2024-01-01T09:30:00"), 9.0)],
            ["user", "t", "v"],
        )
        out = relational.asof_join(left, right, on="t", by=["user"], right_value_cols=["v"])
        got = {r["event_id"]: r["v"] for r in out.collect()}
        assert got == {1: 1.0, 2: 2.0, 3: None}

    def test_equal_ts_matches_non_strict(self, spark):
        left = spark.createDataFrame([(1, "u", ts("2024-01-01T10:00:00"))], ["id", "user", "t"])
        right = spark.createDataFrame([("u", ts("2024-01-01T10:00:00"), 7.0)], ["user", "t", "v"])
        assert relational.asof_join(left, right, on="t", by=["user"]).collect()[0]["v"] == 7.0
        strict = relational.asof_join(left, right, on="t", by=["user"], strict=True)
        assert strict.collect()[0]["v"] is None

    def test_tolerance_and_matched_on(self, spark):
        """merge_asof tolerance semantics: a match staler than the
        tolerance nulls out (payload AND matched_on); boundary-exact
        gap still matches.  Timestamp tolerance is in seconds."""
        left = spark.createDataFrame(
            [(1, "u", ts("2024-01-01T10:00:00")),   # view 1h ago exactly
             (2, "u", ts("2024-01-01T13:00:01")),   # staler than 1h
             (3, "u", ts("2024-01-01T12:30:00"))],  # 30 min fresh
            ["event_id", "user", "t"],
        )
        right = spark.createDataFrame(
            [("u", ts("2024-01-01T09:00:00"), 1.0),
             ("u", ts("2024-01-01T12:00:00"), 2.0)],
            ["user", "t", "v"],
        )
        out = relational.asof_join(
            left, right, on="t", by=["user"], right_value_cols=["v"],
            tolerance=3600, matched_on_col="m_t",
        )
        got = {r["event_id"]: (r["v"], r["m_t"] is not None) for r in out.collect()}
        assert got == {1: (1.0, True), 2: (None, False), 3: (2.0, True)}

    def test_tolerance_numeric_forward(self, spark):
        left = spark.createDataFrame([(1, 100), (2, 300)], ["id", "t"])
        right = spark.createDataFrame([(150, "a"), (900, "b")], ["t", "tag"])
        out = relational.asof_join(
            left, right, on="t", right_value_cols=["tag"],
            direction="forward", tolerance=100,
        )
        got = {r["id"]: r["tag"] for r in out.collect()}
        assert got == {1: "a", 2: None}  # 900 is 600 away: beyond 100


class TestRelationalHelpers:
    def test_group_collect_sorted(self, spark):
        df = spark.createDataFrame([("a", "z"), ("a", "x"), ("b", "y")], ["k", "v"])
        got = {r["k"]: r["vs"] for r in relational.group_collect(df, ["k"], "v").collect()}
        assert got == {"a": "x|z", "b": "y"}

    def test_top_k_deterministic(self, spark):
        df = spark.createDataFrame(
            [("g", 5, 1), ("g", 5, 2), ("g", 3, 3)], ["k", "score", "id"]
        )
        rows = relational.top_k_per_group_scalable(
            df, ["k"], "score", 2, tiebreak_cols=["id"]
        ).collect()
        assert [(r["id"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
            (1, 1), (2, 2)
        ]

    def test_date_span_expand(self, spark):
        df = spark.createDataFrame([("2024-01-30", "2024-02-02")], ["s", "e"])
        days = relational.date_span_expand(df, "s", "e").select("day").collect()
        assert len(days) == 4

    def test_sessionize_gap(self, spark):
        df = spark.createDataFrame(
            [("u", 0), ("u", 100), ("u", 5000), ("u", 5100)], ["user", "t"]
        )
        out = relational.sessionize(df, by=["user"], ts_col="t", gap_seconds=1000)
        sessions = {r["t"]: r["session_id"] for r in out.collect()}
        assert sessions == {0: 1, 100: 1, 5000: 2, 5100: 2}


class TestDedup:
    def test_exact_dedup_survivor(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
        )
        out = {r["text"]: (r["doc_id"], r["dup_count"])
               for r in dedup.exact_dedup(df, ["text"], "doc_id").collect()}
        assert out == {"same text": (1, 2), "other": (3, 1)}

    def test_fingerprint_ignores_case_whitespace(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello   World"), (2, "hello world"), (3, "different")], ["doc_id", "text"]
        )
        groups = dedup.fingerprint_dedup(df, "text", "doc_id").collect()
        counts = sorted(r["dup_count"] for r in groups)
        assert counts == [1, 2]

    def test_minhash_finds_near_dups(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "completely unrelated words here none match at all")],
            ["doc_id", "text"],
        )
        pairs = dedup.minhash_lsh_pairs(df, "doc_id", "text", n=3, k=16, bands=4,
                                        threshold=0.3).collect()
        assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(1, 2)]
        survivors = dedup.minhash_dedup(df, "doc_id", "text", n=3, k=16, bands=4,
                                        threshold=0.3)
        assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 3]

    def test_simhash_identical_for_same_tokens(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha  beta   GAMMA"), (3, "zeta eta theta")],
            ["doc_id", "text"],
        )
        groups = dedup.simhash_groups(df, "doc_id", "text").collect()
        assert sorted(g["member_count"] for g in groups) == [1, 2]

    def test_ngram_jaccard_blocked(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d", "en"), (2, "a b c e", "en"), (3, "a b c d", "fr")],
            ["doc_id", "text", "lang"],
        )
        pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.3,
                                          block_col="lang").collect()
        # doc 3 matches doc 1 textually but is in another block
        assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(1, 2)]

    def test_degenerate_corpus_no_giant_bucket_row(self, spark):
        # exact-duplicate-heavy corpus: every doc shares every band key.
        # The bucket strategy must route the hot bucket to the streaming
        # self-join path (no single collect_list row of all members) and
        # still produce the full quadratic pair set.
        n = 2000
        text = "the quick brown fox jumps over the lazy dog"
        df = spark.createDataFrame([(i, text) for i in range(n)], ["doc_id", "text"])
        pairs = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=3, k=16, bands=4, threshold=0.5,
            max_bucket_size=64,
        )
        assert pairs.count() == n * (n - 1) // 2

    def test_bucket_routing_matches_selfjoin(self, spark):
        # corpus with one hot cluster (> cap) and normal near-dup pairs:
        # hybrid routing must equal the pure self-join result exactly.
        base = "the quick brown fox jumps over the lazy dog again and again today"
        rows = [(i, "identical hot cluster text repeated verbatim") for i in range(20)]
        rows += [(100, base), (101, base + " extra"),
                 (102, "completely unrelated words none match at all")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kw = dict(n=3, k=16, bands=4, threshold=0.3)
        hybrid = {(p["doc_id_a"], p["doc_id_b"], p["jaccard"]) for p in
                  dedup.minhash_lsh_pairs(df, "doc_id", "text",
                                          max_bucket_size=8, **kw).collect()}
        pure = {(p["doc_id_a"], p["doc_id_b"], p["jaccard"]) for p in
                dedup.minhash_lsh_pairs(df, "doc_id", "text",
                                        strategy="selfjoin", **kw).collect()}
        assert hybrid == pure
        assert (100, 101) in {(a, b) for a, b, _ in hybrid}


class TestSimilarity:
    def test_cosine_topk_exact(self, spark):
        rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = similarity.cosine_topk(df, df.where(F.col("vec_id") == 0), k=2).collect()
        assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [3, 1]

    def test_truncated_topk_prefix_ranking_and_rerank(self, spark):
        """Prefix ranking uses ONLY the first use_dims coordinates; a
        full-dim rerank over an all-covering shortlist must equal exact
        brute force."""
        import numpy as np

        rng = np.random.default_rng(5)
        vecs = {i: [float(x) for x in rng.normal(size=8)] for i in range(30)}
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
        )
        q = df.where(F.col("vec_id") < 2)

        # use_dims covering the whole vector == exact brute force
        full = similarity.truncated_topk(df, q, k=4, use_dims=8, rerank=0)
        brute = similarity.cosine_topk(df, q, k=4)
        assert (
            [(r["query_id"], r["neighbor_id"], r["rank"])
             for r in full.orderBy("query_id", "rank").collect()]
            == [(r["query_id"], r["neighbor_id"], r["rank"])
                for r in brute.orderBy("query_id", "rank").collect()]
        )

        # prefix ranking ignores the tail coordinates entirely
        import math

        def prefix_cos(a, b, d):
            dot = sum(x * y for x, y in zip(a[:d], b[:d]))
            na = math.sqrt(sum(x * x for x in a[:d]))
            nb = math.sqrt(sum(y * y for y in b[:d]))
            return dot / (na * nb)

        got = similarity.truncated_topk(df, q, k=3, use_dims=3, rerank=0)
        for r in got.collect():
            expect_rank = sorted(
                ((prefix_cos(vecs[r["query_id"]], vecs[j], 3), -j), j)
                for j in vecs if j != r["query_id"]
            )[::-1]
            top = [j for _, j in expect_rank[:3]]
            assert r["neighbor_id"] in top

        # rerank with a shortlist covering the corpus == brute force
        rer = similarity.truncated_topk(df, q, k=4, use_dims=2, rerank=10)
        assert (
            [(r["query_id"], r["neighbor_id"]) for r in
             rer.orderBy("query_id", "rank").collect()]
            == [(r["query_id"], r["neighbor_id"]) for r in
                brute.orderBy("query_id", "rank").collect()]
        )

        import pytest

        with pytest.raises(ValueError, match="use_dims"):
            similarity.truncated_topk(df, q, use_dims=0)

    def test_sq8_topk_matches_python_reference(self, spark):
        """SQ8 quantize → integer candidate rank → exact rerank, vs a
        pure-python replay of the identical arithmetic (same bounds,
        same floor quantization, same fold-order cosine)."""
        import math
        import numpy as np

        rng = np.random.default_rng(11)
        vecs = {i: [float(x) for x in rng.normal(size=5)] for i in range(40)}
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
        )
        got = [
            (r["query_id"], r["neighbor_id"], r["approx_dot"],
             r["cosine"], r["rank"])
            for r in similarity.sq8_topk(
                df, df.where(F.col("vec_id") < 3), k=3, rerank=3
            ).orderBy("query_id", "rank").collect()
        ]

        d = 5
        mn = [min(v[i] for v in vecs.values()) for i in range(d)]
        mx = [max(v[i] for v in vecs.values()) for i in range(d)]

        def code(v):
            return [
                0 if mx[i] <= mn[i] else
                max(0, min(255, math.floor((v[i] - mn[i]) * 255.0
                                           / (mx[i] - mn[i]))))
                for i in range(d)
            ]

        codes = {i: code(v) for i, v in vecs.items()}
        expect = []
        for q in range(3):
            cand = sorted(
                ((sum(a * b for a, b in zip(codes[q], codes[c])), c)
                 for c in vecs if c != q),
                key=lambda t: (-t[0], t[1]),
            )[:9]
            rer = sorted(
                ((_fold_cos(vecs[q], vecs[c]), adot, c) for adot, c in cand),
                key=lambda t: (-t[0], t[2]),
            )[:3]
            for rk, (cos, adot, c) in enumerate(rer, 1):
                expect.append((q, c, adot, cos, rk))
        assert got == expect

    def test_hard_negatives_excludes_same_label(self, spark):
        rows = [
            (0, "a", [1.0, 0.0]), (1, "a", [0.99, 0.1]),
            (2, "b", [0.98, 0.2]), (3, "b", [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
        out = similarity.hard_negatives(
            df, df.where(F.col("vec_id") == 0), k=2
        ).orderBy("rank").collect()
        # nearest same-label (1) is excluded; the boundary negative (2)
        # ranks first, the far one (3) second
        assert [(r["neighbor_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
        assert all(r["neighbor_label"] != r["query_label"] for r in out)

    def test_near_dup_pairs_exact(self, spark):
        import pytest

        rows = [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        pairs = similarity.embedding_near_dup_pairs(df, threshold=0.99).collect()
        assert [(p["vec_id_a"], p["vec_id_b"]) for p in pairs] == [(0, 1)]

        # both paths carry ids as long: a string id fails up front, from
        # the schema, not inside a Python worker
        named = spark.createDataFrame(
            [(str(i), v) for i, v in rows], ["vec_id", "embedding"]
        )
        with pytest.raises(TypeError, match="integral"):
            similarity.embedding_near_dup_pairs(named, threshold=0.99)

    def test_near_dup_auto_gates_driver_collect(self, spark, monkeypatch):
        rows = [(i, [1.0, 0.0]) for i in range(10)] + [(100, [0.0, 1.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])

        # below the gate: exact vectorized path, full pair set
        small = similarity.embedding_near_dup_pairs(
            df, threshold=0.99, max_exact_rows=100
        ).collect()
        assert len(small) == 45  # all pairs among the 10 identical vectors

        # above the gate: the exact (collect-the-corpus) path must NOT run
        def boom(*a, **k):
            raise AssertionError("exact path collected corpus above the gate")

        monkeypatch.setattr(similarity, "embedding_near_dup_pairs_vectorized", boom)
        big = similarity.embedding_near_dup_pairs(
            df, threshold=0.99, max_exact_rows=5
        ).collect()
        # banded LSH: identical vectors collide in every band
        assert len(big) == 45

    def test_vectorized_topk_bit_identical(self, spark):
        """The numpy path replays portable.dot's fold order — results
        (including the float cosines) must equal the HOF path exactly."""
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        q = emb.where(F.col("vec_id") < 5)
        hof = sorted(map(tuple, similarity.cosine_topk(emb, q, k=7).collect()))
        vec = sorted(map(tuple, similarity.cosine_topk_vectorized(emb, q, k=7).collect()))
        assert hof == vec  # exact, cosine doubles included

    def test_vectorized_near_dup_bit_identical(self, spark):
        """The numpy all-pairs scan equals a left-to-right Python fold
        over every pair, cosine doubles included."""
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        vecs = sorted(tuple(r) for r in emb.select("vec_id", "embedding").collect())
        expect = []
        for i, (a, va) in enumerate(vecs):
            for b, vb in vecs[i + 1:]:
                cos = _fold_cos(va, vb)
                if cos >= 0.4:
                    expect.append((a, b, cos))
        fast = sorted(map(tuple, similarity.embedding_near_dup_pairs_vectorized(
            emb, threshold=0.4).collect()))
        assert fast == expect and len(fast) > 0

    def test_vectorized_assign_cells_bit_identical(self, spark):
        """Each vector's cell is the Python-fold cosine argmax over the
        centroids; a tie goes to the smallest centroid id."""
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        centroids = emb.where(F.col("vec_id") % 50 == 0)
        cents = centroids.select("vec_id", "embedding").collect()
        ref = sorted(
            (vid, min(cents, key=lambda c: (-_fold_cos(v, c[1]), c[0]))[0])
            for vid, v in emb.select("vec_id", "embedding").collect()
        )
        vec = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in similarity.assign_cells_vectorized(emb, centroids).collect()
        )
        assert ref == vec

    def test_vectorized_lsh_bucket_bit_identical(self, spark):
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        sig = similarity.hyperplane_signature("embedding", 6, 64)(
            similarity.SPARK
        )
        hof = sorted(
            (r["vec_id"], r["bucket"])
            for r in emb.withColumn("bucket", F.expr(sig)).select("vec_id", "bucket").collect()
        )
        vec = sorted(
            (r["vec_id"], r["bucket"])
            for r in similarity.with_lsh_bucket_vectorized(emb).select("vec_id", "bucket").collect()
        )
        assert hof == vec

    def test_vectorized_topk_plan_has_no_crossjoin(self, spark):
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        df = similarity.cosine_topk_vectorized(emb, emb.where(F.col("vec_id") < 5), k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        assert "MapInPandas" in plan


class TestMultimodal:
    def test_binary_pipeline(self, spark, tmp_path):
        (tmp_path / "img1.png").write_bytes(b"\x89PNG fake content 1234")
        (tmp_path / "img2.png").write_bytes(b"\x89PNG other bytes!")
        df = multimodal.read_binary_dir(spark, str(tmp_path), "image")
        assert df.count() == 2
        assert df.schema["media_meta"].dataType.fieldNames()[0] == "media_type"
        decoded = multimodal.decode_images(df).collect()
        assert all(r["width"] > 0 for r in decoded)
        feats = multimodal.extract_features(df, dim=4).collect()
        assert all(len(r["features"]) == 4 for r in feats)


class TestJaccardFrequencyPruning:
    def test_max_shingle_df_prunes_candidates_keeps_exact_jaccard(self, spark):
        # docs 1,2 share a RARE bigram; docs 1,3 share only a COMMON one
        df = spark.createDataFrame(
            [
                (1, "common words rare pair one"),
                (2, "common words rare pair two"),
                (3, "common words other thing here"),
                (4, "common words yet another doc"),
                (5, "common words fifth document now"),
            ],
            ["doc_id", "text"],
        )
        full = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.1)
        pruned = dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.1, max_shingle_df=2
        )
        full_pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in full.collect()}
        pruned_pairs = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pruned.collect()}
        # "common words" (df=5) pairs disappear; the rare-shingle pair stays
        assert (1, 2) in pruned_pairs
        assert set(pruned_pairs) < set(full_pairs)
        # surviving pair's jaccard is the EXACT full-set value
        assert pruned_pairs[(1, 2)] == full_pairs[(1, 2)]


def _shuffled_chains(rng, n_chains, length):
    """``n_chains`` disjoint paths of ``length`` edges over shuffled ids."""
    ids = rng.sample(range(10**6), n_chains * (length + 1))
    return [(ids[c * (length + 1) + i], ids[c * (length + 1) + i + 1])
            for c in range(n_chains) for i in range(length)]


def _components(edges, **kw):
    """{vertex: component} of ``connected_components`` over (a, b)."""
    from ayeaye_spark.operators.graph import connected_components

    return {r["vertex"]: r["component"]
            for r in connected_components(edges, "a", "b", **kw).collect()}


class TestConnectedComponents:
    def test_chain_and_isolated(self, spark):
        from ayeaye_spark.operators.graph import dedup_components

        # components: {1,2,3} via chain, {7,9}; 5 isolated
        edges = spark.createDataFrame([(1, 2), (2, 3), (9, 7)], ["a", "b"])
        assert _components(edges) == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

        docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], ["doc_id"])
        pairs = edges.selectExpr("a AS doc_id_a", "b AS doc_id_b")
        out = {r["doc_id"]: (r["component"], r["is_survivor"])
               for r in dedup_components(docs, pairs, "doc_id").collect()}
        assert out == {
            1: (1, True), 2: (1, False), 3: (1, False),
            5: (5, True), 7: (7, True), 9: (7, False),
        }

    def test_single_edge_convergence(self, spark):
        edges = spark.createDataFrame([(10, 4)], ["a", "b"])
        assert _components(edges) == {10: 4, 4: 4}

    def test_distributed_path_matches_union_find(self, spark):
        import random

        import pytest

        # long chains + cliques + isolated pairs
        raw = []
        for c in range(5):  # 5 chains of 40 (diameter stress)
            raw += [(c * 1000 + i, c * 1000 + i + 1) for i in range(40)]
        raw += [(10_000 + i, 10_000 + j) for i in range(6) for j in range(i + 1, 6)]
        raw += [(20_000, 30_000), (30_000, 25_000)]
        # plus chains over shuffled ids, where id order says nothing
        # about position on the chain
        rng = random.Random(5)
        for rows in (raw, _shuffled_chains(rng, 1, 60), _shuffled_chains(rng, 5, 300)):
            edges = spark.createDataFrame(rows, ["a", "b"])
            # collect_threshold=0 forces the large-star/small-star rounds
            assert _components(edges, collect_threshold=0) == _components(edges)
        # a round cap the loop cannot close the chains in is loud
        with pytest.raises(RuntimeError, match="max_rounds=2"):
            _components(edges, collect_threshold=0, max_rounds=2)

    def test_star_algorithm_matches_union_find(self, spark):
        # chains (diameter stress), a clique, a vee, a self-loop-only
        # vertex, and duplicate/reversed edges — shuffled
        import random

        rng = random.Random(11)
        raw = []
        for c in range(4):
            raw += [(c * 1000 + i, c * 1000 + i + 1) for i in range(30)]
        raw += [(50_000 + i, 50_000 + j) for i in range(5) for j in range(i + 1, 5)]
        raw += [(70_000, 80_000), (80_000, 75_000), (99, 99), (2, 1)]
        rng.shuffle(raw)
        edges = spark.createDataFrame(raw, ["a", "b"])

        star = _components(edges, collect_threshold=0)
        assert star == _components(edges)
        assert star[99] == 99  # self-loop-only vertex labels itself

    def test_star_random_graphs_match_driver_union_find(self, spark):
        import random

        for seed in (3, 17):
            rng = random.Random(seed)
            n, m = 400, 500
            raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
            edges = spark.createDataFrame(raw, ["a", "b"])
            star = _components(edges, collect_threshold=0)
            assert star == _components(edges), f"seed {seed}"

    def test_star_long_chain_converges(self, spark):
        # diameter 250: the star alternation closes it within the
        # default round cap
        edges = spark.createDataFrame([(i, i + 1) for i in range(250)], ["a", "b"])
        comps = _components(edges, collect_threshold=0)
        assert set(comps.values()) == {0}
        assert len(comps) == 251

    def test_dedup_components_star_algorithm(self, spark):
        from ayeaye_spark.operators.graph import dedup_components

        docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 7, 9)], ["doc_id"])
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (9, 7)], ["doc_id_a", "doc_id_b"]
        )
        out = {r["doc_id"]: (r["component"], r["is_survivor"])
               for r in dedup_components(
                   docs, pairs, "doc_id", algorithm="star"
               ).collect()}
        assert out == {
            1: (1, True), 2: (1, False), 3: (1, False),
            5: (5, True), 7: (7, True), 9: (7, False),
        }
        import pytest

        with pytest.raises(ValueError, match="unknown algorithm"):
            dedup_components(docs, pairs, "doc_id", algorithm="bogus")


class TestScd2:
    def test_merge_closes_and_chains_versions(self, spark):
        from ayeaye_spark.operators.scd import scd2_apply

        current = spark.createDataFrame(
            [("u1", "bronze", 1, None), ("u2", "silver", 1, None),
             ("u3", "gold", 1, 5)],  # u3 already closed
            "key string, tier string, valid_from long, valid_to long",
        )
        updates = spark.createDataFrame(
            [("u1", "silver", 10), ("u1", "gold", 20), ("u9", "bronze", 15)],
            "key string, tier string, ts long",
        )
        out = scd2_apply(current, updates, key="key", ts_col="ts",
                         attr_cols=["tier"])
        rows = {(r["key"], r["tier"]): (r["valid_from"], r["valid_to"])
                for r in out.collect()}
        assert rows[("u1", "bronze")] == (1, 10)     # closed by first update
        assert rows[("u1", "silver")] == (10, 20)    # chained within batch
        assert rows[("u1", "gold")] == (20, None)    # open
        assert rows[("u2", "silver")] == (1, None)   # untouched key
        assert rows[("u3", "gold")] == (1, 5)        # closed history kept
        assert rows[("u9", "bronze")] == (15, None)  # brand-new key
        assert len(rows) == 6


class TestRangeJoin:
    def test_within_window_exact(self, spark):
        left = spark.createDataFrame(
            [("u", 1, 1000), ("u", 2, 5000), ("v", 3, 1000)],
            ["user", "id", "t"],
        )
        right = spark.createDataFrame(
            [("u", 10, 1400), ("u", 11, 9000), ("v", 12, 5000)],
            ["user", "id", "t"],
        )
        out = relational.range_join(
            left, right, by=["user"], left_ts="t", right_ts="t", within=1000
        )
        pairs = sorted((r["l_id"], r["r_id"]) for r in out.collect())
        assert pairs == [(1, 10)]  # |1000-1400|<=1000; others outside or cross-user

    def test_bucket_boundary_pairs_found(self, spark):
        # pair straddles a bucket boundary: 999 vs 1001 with within=1000
        left = spark.createDataFrame([("u", 1, 999)], ["user", "id", "t"])
        right = spark.createDataFrame([("u", 2, 1001)], ["user", "id", "t"])
        out = relational.range_join(
            left, right, by=["user"], left_ts="t", right_ts="t", within=1000
        )
        assert [(r["l_id"], r["r_id"]) for r in out.collect()] == [(1, 2)]


class TestAsofForward:
    def test_forward_match(self, spark):
        left = spark.createDataFrame(
            [(1, "u", 100), (2, "u", 500)], ["id", "user", "t"]
        )
        right = spark.createDataFrame(
            [("u", 200, 1.0), ("u", 300, 2.0)], ["user", "t", "v"]
        )
        out = relational.asof_join(
            left, right, on="t", by=["user"], right_value_cols=["v"],
            direction="forward",
        )
        got = {r["id"]: r["v"] for r in out.collect()}
        assert got == {1: 1.0, 2: None}  # next right at/after 100 is 200; none after 500

    def test_forward_equal_ts(self, spark):
        left = spark.createDataFrame([(1, "u", 200)], ["id", "user", "t"])
        right = spark.createDataFrame([("u", 200, 9.0)], ["user", "t", "v"])
        out = relational.asof_join(left, right, on="t", by=["user"],
                                   right_value_cols=["v"], direction="forward")
        assert out.collect()[0]["v"] == 9.0
        strict = relational.asof_join(left, right, on="t", by=["user"],
                                      right_value_cols=["v"], direction="forward",
                                      strict=True)
        assert strict.collect()[0]["v"] is None

    def test_name_collision_guards(self, spark):
        """matched_on_col colliding with a left column, or a right
        payload column named _asof_on, must raise up front (round-7
        advice: ambiguous struct field / silent shadowing)."""
        import pytest as _pytest

        left = spark.createDataFrame([(1, "u", 100)], ["id", "user", "t"])
        right = spark.createDataFrame([("u", 50, 1.0)], ["user", "t", "v"])
        with _pytest.raises(ValueError, match="collides with a left column"):
            relational.asof_join(left, right, on="t", by=["user"],
                                 right_value_cols=["v"], matched_on_col="id")
        bad_right = right.withColumnRenamed("v", "_asof_on")
        with _pytest.raises(ValueError, match="_asof_on"):
            relational.asof_join(left, bad_right, on="t", by=["user"],
                                 right_value_cols=["_asof_on"])


class TestSampling:
    def test_split_covers_all_rows_deterministically(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(i,) for i in range(1000)], ["id"])
        out = sampling.deterministic_split(df, "id")
        counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert sum(counts.values()) == 1000
        assert set(counts) == {"train", "val", "test"}
        assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
        # rerun gives the identical assignment
        again = {r["id"]: r["split"] for r in sampling.deterministic_split(df, "id").collect()}
        first = {r["id"]: r["split"] for r in out.collect()}
        assert first == again

    def test_split_permilles_must_sum(self, spark):
        import pytest as _pytest

        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(1,)], ["id"])
        with _pytest.raises(ValueError):
            sampling.deterministic_split(df, "id", splits=[("a", 500), ("b", 400)])

    def test_rate_samples_nest(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(i,) for i in range(2000)], ["id"])
        small = {r["id"] for r in sampling.rate_sample(df, "id", rate_permille=200).collect()}
        large = {r["id"] for r in sampling.rate_sample(df, "id", rate_permille=600).collect()}
        assert small and small < large  # strictly nested

    def test_token_budget_boundary(self, spark):
        from ayeaye_spark.operators import sampling

        rows = [(1, 10, 900), (2, 10, 800), (3, 10, 700), (4, 10, 600)]
        df = spark.createDataFrame(rows, ["id", "ntok", "score"])
        kept = sampling.token_budget_filter(
            df, id_col="id", token_col="ntok", score_col="score", budget=25
        ).collect()
        # 10 + 10 fit; the third row would reach 30 > 25
        assert sorted(r["id"] for r in kept) == [1, 2]

    def test_pack_sequences_greedy_fill(self, spark):
        from ayeaye_spark.operators import sampling

        rows = [(1, 1000), (2, 1000), (3, 100), (4, 2000), (5, 10)]
        df = spark.createDataFrame(rows, ["id", "ntok"])
        got = {r["id"]: r["pack_id"] for r in
               sampling.pack_sequences(df, id_col="id", token_col="ntok", budget=2048).collect()}
        # cum-ntok: 0, 1000, 2000, 2100, 4100 -> packs 0,0,0,1,2
        assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}

    def test_contamination_pairs_counts_distinct_overlap(self, spark):
        ev = spark.createDataFrame([(100, "alpha beta gamma delta")], ["doc_id", "text"])
        tr = spark.createDataFrame(
            [(1, "alpha beta gamma epsilon"),   # shares 2 trigram-ish shingles? depends on n=2
             (2, "totally different words here")],
            ["doc_id", "text"],
        )
        pairs = dedup.contamination_pairs(ev, tr, "doc_id", "text", n=2, min_shared=2).collect()
        assert [(p["eval_id"], p["train_id"]) for p in pairs] == [(100, 1)]
        assert pairs[0]["shared_ngrams"] == 2  # 'alpha beta', 'beta gamma'


class TestNegativeIdBuckets:
    def test_negative_ids_bucket_in_range(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(i,) for i in range(-50, 50)], ["id"])
        buckets = [r["bucket"] for r in sampling.with_bucket(df, "id").collect()]
        assert all(0 <= b < sampling.HASH_BUCKETS for b in buckets)
        # splits partition ALL rows, including negative ids
        split = sampling.deterministic_split(df, "id")
        assert split.count() == 100
        # a 0-permille-complement rate keeps a proper subset, not everything
        kept = sampling.rate_sample(df, "id", rate_permille=500).count()
        assert 0 < kept < 100


class TestHeaderDecode:
    FIXTURES = "tests/fixtures/media"

    def test_png_ihdr_golden(self):
        b = open(f"{self.FIXTURES}/tiny.png", "rb").read()
        got = multimodal.parse_png_header(b)
        assert got == {"format": "png", "width": 3, "height": 2, "channels": 3}

    def test_wav_riff_golden(self):
        b = open(f"{self.FIXTURES}/tiny.wav", "rb").read()
        got = multimodal.parse_wav_header(b)
        # 2000 frames @ 8kHz mono 16-bit = 250ms, byte rate 16000
        assert got == {"format": "wav", "channels": 1, "sample_rate": 8000,
                       "duration_ms": 250}

    def test_other_formats_golden(self):
        gif = multimodal.parse_gif_header(open(f"{self.FIXTURES}/tiny.gif", "rb").read())
        assert (gif["width"], gif["height"]) == (5, 4)
        bmp = multimodal.parse_bmp_header(open(f"{self.FIXTURES}/tiny.bmp", "rb").read())
        assert (bmp["width"], bmp["height"]) == (1, 2)
        jpg = multimodal.parse_jpeg_header(open(f"{self.FIXTURES}/tiny.jpg", "rb").read())
        assert (jpg["width"], jpg["height"]) == (9, 7)

    def test_wrong_magic_returns_none(self):
        junk = b"\x89PNG not really a png at all"
        assert multimodal.parse_png_header(junk) is None
        assert multimodal.parse_wav_header(b"RIFFxxxxNOPE") is None

    def test_decode_images_end_to_end(self, spark):
        df = multimodal.read_binary_dir(spark, self.FIXTURES, "image")
        got = {r["format"]: r for r in multimodal.decode_images(df).collect()}
        assert got["png"]["width"] == 3 and got["png"]["height"] == 2
        assert got["wav"]["sample_rate"] == 8000 and got["wav"]["duration_ms"] == 250
        assert got["jpeg"]["width"] == 9
        assert {"gif", "bmp"} <= set(got)


class TestBoilerplateAndStratified:
    def test_boilerplate_score_golden(self, spark):
        # docs 1+2 share the 'a b c d' run (2 shared 2-shingles); doc 3 unique
        rows = [(1, "a b c d x"), (2, "a b c d y"), (3, "p q r s t")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r["doc_id"]: (r["n_shingles"], r["shared_shingles"], r["boilerplate_ppm"])
               for r in dedup.boilerplate_score(df, "doc_id", "text", n=2, min_df=2).collect()}
        # doc1 2-shingles: ab bc cd dx -> shared: ab bc cd (3 of 4)
        assert got[1] == (4, 3, 750000)
        assert got[2] == (4, 3, 750000)
        assert got[3] == (4, 0, 0)

    def test_stratified_sample_deterministic(self, spark):
        """``docs_stratified_sample``'s selection: rank within each group
        by (hash bucket, id), keep the first k."""
        from pyspark.sql import Window

        from ayeaye_spark.operators import sampling

        rows = [(i, "g%d" % (i % 3)) for i in range(300)]
        df = spark.createDataFrame(rows, ["id", "grp"])
        w = Window.partitionBy("grp").orderBy(
            F.expr(sampling.bucket_expr("id")), F.col("id")
        )

        def sample(frame):
            return frame.withColumn("rk", F.row_number().over(w)).where("rk <= 5")

        a = sample(df)
        b = sample(df.repartition(13))
        sa = sorted((r["grp"], r["id"]) for r in a.collect())
        sb = sorted((r["grp"], r["id"]) for r in b.collect())
        assert sa == sb                     # partitioning-independent
        assert len(sa) == 15                # 5 per group


class TestReviewRegressions:
    def test_decode_with_subset_decoder_contract(self, spark):
        # a round-1-style pluggable decoder returning only 4 keys must not
        # crash; missing schema columns come back null
        df = multimodal.read_binary_dir(spark, "tests/fixtures/media", "image")
        rows = multimodal.decode_images(df, decoder=multimodal.fake_decode).collect()
        assert all(r["format"] is None and r["width"] is not None for r in rows)

    def test_transform_map_truthiness_callable_falls_back(self, spark, tmp_path):
        p = tmp_path / "m.csv"
        p.write_text("a,b\n-3,x\n2,y\n")
        from ayeaye_spark import connector_for

        c = connector_for(f"csv://{p};infer_schema=true",
                          transform_map={"a": lambda v: max(v, 0)})
        assert sorted(r["a"] for r in c.read(spark).collect()) == [0, 2]

    def test_s3_style_uri_match_target(self):
        from ayeaye_spark.sources.listing import _match_target, pattern_prefix_matcher

        # s3a uris put the bucket in the authority; the pattern keeps it
        _, matcher = pattern_prefix_matcher("bucket/data/part-*.csv")
        assert matcher(_match_target("bucket", "/data/part-0001.csv"))
        assert not matcher(_match_target("other", "/data/part-0001.csv"))
        # local files: no authority, absolute path as-is
        assert _match_target(None, "/tmp/x.csv") == "/tmp/x.csv"

    def test_parquet_as_pandas_active_session(self, spark, tmp_path):
        from ayeaye_spark import AccessMode, connector_for

        df = spark.createDataFrame([(1, "x")], ["a", "b"])
        connector_for(f"parquet://{tmp_path}/t", access=AccessMode.WRITE).write(df)
        pdf = connector_for(f"parquet://{tmp_path}/t").as_pandas()
        assert pdf["a"].tolist() == [1]

    def test_stream_query_leaves_no_temp_view(self, spark):
        from ayeaye_spark.catalog import QUERIES

        out = QUERIES["events_stream_hourly_counts"](spark, "/root/testdata/sf0.001")
        assert out.count() > 0
        names = [t.name for t in spark.catalog.listTables()]
        assert "events_stream_hourly_sink" not in names


class TestIncrementalDedup:
    def test_drop_rules_golden(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        other = "completely unrelated text with different words entirely here now"
        existing = spark.createDataFrame([(1, base), (2, other)], ["doc_id", "text"])
        increment = spark.createDataFrame(
            [(10, base + " extra"),      # near-dups existing doc 1 -> dropped
             (11, "fresh new unique content nothing matches this string at all"),
             (12, "fully distinct sentence one of a pair duplicated inside the increment"),
             (13, "fully distinct sentence one of a pair duplicated inside the increment zz")],
            ["doc_id", "text"],
        )
        out = dedup.minhash_dedup_incremental(
            existing, increment, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3
        )
        # 10 dropped (matches existing), 13 dropped (matches 12, larger id)
        assert sorted(r["doc_id"] for r in out.collect()) == [11, 12]


class TestMediaFixture:
    """Pins for the committed media fixture (catalog entry
    media_decode_report): the committed bytes ARE the deterministic
    encoder output, and exact_decode over them IS the MEDIA_EXPECTED
    constants the DuckDB oracle replays from — together these make the
    driver's value-hash check certify the real decode path."""

    def test_committed_bytes_match_encoders(self):
        import os

        from ayeaye_spark.fixtures.media import (
            ensure_media_fixture,
            media_fixture_files,
        )

        d = ensure_media_fixture()
        blobs = media_fixture_files()
        assert sorted(os.listdir(d)) == sorted(blobs)
        for name, blob in blobs.items():
            with open(os.path.join(d, name), "rb") as f:
                assert f.read() == blob, (
                    f"committed fixtures/media/{name} drifted from the "
                    "deterministic encoder — regenerate via "
                    "ensure_media_fixture()"
                )

    def test_exact_decode_matches_pinned_constants(self):
        from ayeaye_spark.fixtures.media import (
            MEDIA_EXPECTED,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import exact_decode

        got = []
        for name, blob in sorted(media_fixture_files().items()):
            dec = exact_decode(blob)
            got.append((name, dec["format"], dec["width"], dec["height"],
                        dec["channels"], dec["pixel_sum"], dec["n_vals"],
                        dec["dhash"]))
        assert got == [tuple(r) for r in MEDIA_EXPECTED]

    def test_cross_format_pair_same_pixels(self):
        """gradient.png and gradient.bmp decode to the SAME pixel sums
        and the SAME dHash — the cross-format near-dup contract the
        dup_group rollup certifies."""
        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import exact_decode

        blobs = media_fixture_files()
        png = exact_decode(blobs["gradient.png"])
        bmp = exact_decode(blobs["gradient.bmp"])
        for k in ("width", "height", "channels", "pixel_sum", "n_vals",
                  "dhash"):
            assert png[k] == bmp[k], k
        assert png["dhash"] is not None

    def test_media_decode_report_golden(self, spark):
        from ayeaye_spark.catalog import QUERIES

        rows = {r["file"]: r for r in QUERIES["media_decode_report"](
            spark, "/root/testdata/sf0.001").collect()}
        assert len(rows) == 11
        # the pair collapses to one dup_group; everything else is alone
        assert (rows["gradient.png"]["dup_group"]
                == rows["gradient.bmp"]["dup_group"] == "gradient.bmp")
        assert rows["palette.gif"]["dup_group"] == "palette.gif"
        # the WAV degrades to header metadata with null pixel stats
        wav = rows["tone.wav"]
        assert wav["format"] == "wav" and wav["mean_ppm"] is None
        assert wav["dhash"] is None and wav["dup_group"] == "tone.wav"
        # the AVI contributes container metadata (real RIFF walk)
        avi = rows["clip.avi"]
        assert avi["format"] == "avi"
        assert (avi["width"], avi["height"]) == (16, 12)
        assert avi["mean_ppm"] is None and avi["dup_group"] == "clip.avi"
        # integer-exact mean: 71360 * 1e6 DIV 576
        assert rows["gradient.png"]["mean_ppm"] == 71360 * 1000000 // 576

    def test_decode_images_preserves_int64_precision_with_nulls(self, spark):
        """Regression: a mapInPandas batch mixing decodable and
        non-decodable rows must not round-trip int64 columns through
        float64 (dHash values above 2^53 were silently corrupted)."""
        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import (
            EXACT_DECODE_SCHEMA,
            decode_images,
            exact_decode,
        )

        blobs = media_fixture_files()
        # one partition -> one Arrow batch containing both rows
        df = spark.createDataFrame(
            [("gif", bytearray(blobs["palette.gif"])),
             ("wav", bytearray(blobs["tone.wav"]))],
            ["path", "content"],
        ).coalesce(1)
        got = {r["path"]: r for r in decode_images(
            df, decoder=exact_decode, batch_schema=EXACT_DECODE_SCHEMA
        ).collect()}
        assert got["gif"]["dhash"] == exact_decode(blobs["palette.gif"])["dhash"]
        assert got["wav"]["dhash"] is None


class TestMediaAudioQuality:
    """Pins for the integer-exact audio path (catalog entry
    media_audio_quality): exact_audio_stats over the committed WAVs IS
    the MEDIA_AUDIO_EXPECTED constants the oracle replays from."""

    def test_exact_audio_stats_matches_pinned_constants(self):
        from ayeaye_spark.fixtures.media import (
            MEDIA_AUDIO_EXPECTED,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import exact_audio_stats

        got = []
        for name, blob in sorted(media_fixture_files().items()):
            a = exact_audio_stats(blob)
            if a is not None:
                got.append((name, a["codec"], a["channels"],
                            a["sample_rate"], a["n_samples"], a["peak_abs"],
                            a["sum_sq"], a["n_silence"], a["n_clipped"],
                            a["n_zero_cross"]))
        assert got == [tuple(r) for r in MEDIA_AUDIO_EXPECTED]

    def test_mulaw_roundtrip_error_bounded(self):
        """encode_wav_mulaw → the exact-expansion decode reconstructs
        every sample within the G.711 quantization bound (half the
        largest segment step ≈ 2^5 on the 14-bit lattice → 256 in the
        int16 domain, plus bias slack)."""
        import numpy as np

        from ayeaye_spark.fixtures.media import encode_wav_mulaw
        from ayeaye_spark.operators.multimodal import _wav_pcm_int

        x = np.array([0, 1, -1, 33, -33, 500, -500, 8191, -8191,
                      20000, -20000, 32767, -32767], dtype=np.int64)
        s, codec, nch, rate, _, _ = _wav_pcm_int(encode_wav_mulaw(x))
        assert codec == "mulaw" and nch == 1 and rate == 8000
        assert int(np.abs(s - np.clip(x, -32635, 32635)).max()) <= 1024

    def test_threshold_semantics(self):
        """Silence counts |s| <= 327, clipping counts |s| >= 32440,
        zero crossings skip zero-valued samples."""
        import numpy as np

        from ayeaye_spark.fixtures.media import encode_wav_pcm16
        from ayeaye_spark.operators.multimodal import exact_audio_stats

        a = exact_audio_stats(encode_wav_pcm16(
            [0, 327, -327, 328, 32439, -32440, 32767, 0, -5]))
        assert a["n_silence"] == 5      # 0, 327, -327, 0, -5
        assert a["n_clipped"] == 2      # -32440, 32767
        # crossings between consecutive NONZERO samples:
        # 327,-327 | -327,328 | 32439,-32440 | -32440,32767 | 32767,-5
        assert a["n_zero_cross"] == 5
        assert a["peak_abs"] == 32767
        assert a["sum_sq"] == int((np.array(
            [0, 327, -327, 328, 32439, -32440, 32767, 0, -5],
            dtype=np.int64) ** 2).sum())

    def test_hostile_bytes_never_raise(self):
        """Truncations, flipped bytes, and garbage return None (or
        degraded stats) — never an exception into the executor task."""
        import random

        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import exact_audio_stats

        wav = media_fixture_files()["tone.wav"]
        rng = random.Random(7)
        for _ in range(200):
            b = bytearray(wav)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            exact_audio_stats(bytes(b[: rng.randint(0, len(b))]))
        for blob in (b"", b"RIFF", b"RIFF\x00\x00\x00\x00WAVE",
                     bytes(rng.randrange(256) for _ in range(512))):
            exact_audio_stats(blob)

    def test_stereo_channel_semantics(self):
        """n_samples counts the interleaved total; zero crossings run
        over channel 0 only (interleaving must not fabricate
        crossings)."""
        import struct

        from ayeaye_spark.operators.multimodal import exact_audio_stats

        # L channel: +100, -100, +100, -100 (3 crossings)
        # R channel: +5000 constant (0 crossings; would fake 7 if
        # crossings were computed over the interleaved stream)
        frames = [(100, 5000), (-100, 5000), (100, 5000), (-100, 5000)]
        body = b"".join(struct.pack("<hh", l, r) for l, r in frames)
        fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + fmt
               + b"data" + struct.pack("<I", len(body)) + body)
        a = exact_audio_stats(wav)
        assert a["channels"] == 2 and a["n_samples"] == 8
        assert a["n_zero_cross"] == 3
        assert a["n_silence"] == 4  # the four |100| samples

    def test_stats_match_numpy_reference(self):
        """Property: for random PCM16 streams the kernel's integer
        stats equal a direct numpy computation."""
        import random

        import numpy as np

        from ayeaye_spark.fixtures.media import encode_wav_pcm16
        from ayeaye_spark.operators.multimodal import (
            CLIP_ABS,
            SILENCE_ABS,
            exact_audio_stats,
        )

        rng = random.Random(11)
        for _ in range(20):
            xs = [rng.randint(-32768, 32767) for _ in range(rng.randint(1, 400))]
            a = exact_audio_stats(encode_wav_pcm16(xs))
            arr = np.array(xs, dtype=np.int64)
            nz = arr[arr != 0]
            assert a["n_samples"] == len(xs)
            assert a["peak_abs"] == int(np.abs(arr).max())
            assert a["sum_sq"] == int((arr * arr).sum())
            assert a["n_silence"] == int((np.abs(arr) <= SILENCE_ABS).sum())
            assert a["n_clipped"] == int((np.abs(arr) >= CLIP_ABS).sum())
            expect_zc = int(np.sum(np.sign(nz[1:]) != np.sign(nz[:-1]))) \
                if nz.size > 1 else 0
            assert a["n_zero_cross"] == expect_zc

    def test_empty_data_chunk_routes_out(self):
        """A valid WAV header with a ZERO-LENGTH data chunk returns
        None (not n_samples=0) — downstream ppm ratios divide by
        n_samples and ANSI mode would abort the job (review r12)."""
        import struct

        from ayeaye_spark.operators.multimodal import exact_audio_stats

        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + fmt
               + b"data" + struct.pack("<I", 0))
        assert exact_audio_stats(wav) is None

    def test_media_audio_quality_golden(self, spark):
        from ayeaye_spark.catalog import QUERIES

        rows = {r["file"]: r for r in QUERIES["media_audio_quality"](
            spark, "/root/testdata/sf0.001").collect()}
        assert sorted(rows) == ["chirp_mulaw.wav", "clipped.wav",
                                "quiet.wav", "tone.wav"]
        assert rows["clipped.wav"]["verdict"] == "clipped"
        assert rows["quiet.wav"]["verdict"] == "mostly_silent"
        assert rows["tone.wav"]["verdict"] == "ok"
        assert rows["chirp_mulaw.wav"]["codec"] == "mulaw"
        # integer-exact ratio: 80 clipped of 120 samples
        assert rows["clipped.wav"]["clipping_ppm"] == 80 * 1000000 // 120


class TestPreprocessAudio:
    """Integer-exact mono mix + linear resample (the speech-pipeline
    normalization stage; audio analog of resize_images)."""

    def test_identity_same_rate(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resample_linear_int

        s = np.array([5, -3, 100, 0, -32768], dtype=np.int64)
        assert (_resample_linear_int(s, 8000, 8000) == s).all()

    def test_exact_2x_upsample_midpoints(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resample_linear_int

        s = np.array([0, 100, -100, 50], dtype=np.int64)
        out = _resample_linear_int(s, 8000, 16000)
        assert out.size == 8
        # even positions hit sources; odd positions are midpoints
        assert list(out[::2]) == [0, 100, -100, 50]
        assert list(out[1::2]) == [50, 0, -25, 50]  # last edge-clamped

    def test_downsample_length_and_determinism(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resample_linear_int

        s = np.arange(-500, 500, 3, dtype=np.int64)
        out = _resample_linear_int(s, 44100, 16000)
        assert out.size == s.size * 16000 // 44100
        assert (out == _resample_linear_int(s, 44100, 16000)).all()
        # linear resample of a linear ramp stays within one step
        diffs = np.diff(out)
        assert diffs.min() >= 0 and diffs.max() <= 9

    def test_preprocess_audio_end_to_end(self, spark):
        import struct

        import numpy as np

        from ayeaye_spark.fixtures.media import (
            ensure_media_fixture,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import (
            _resample_linear_int,
            _wav_pcm_int,
            preprocess_audio,
        )

        files = spark.read.format("binaryFile").load(ensure_media_fixture())
        rows = {r["path"].rsplit("/", 1)[-1]: r
                for r in preprocess_audio(files, target_rate=16000).collect()}
        assert len(rows) == 11
        assert rows["gradient.png"]["pcm"] is None  # routed out
        tone = rows["tone.wav"]
        assert tone["sample_rate"] == 16000
        assert len(tone["pcm"]) == tone["n_samples"] * 2
        # spark output == driver-side kernel composition, byte-exact
        s, _, _, rate, _, _ = _wav_pcm_int(media_fixture_files()["tone.wav"])
        expect = _resample_linear_int(s, rate, 16000)
        got = np.frombuffer(bytes(tone["pcm"]), dtype="<i2").astype(np.int64)
        assert (got == expect).all() and got.size == s.size * 2

    def test_resample_matches_pinned_constants(self):
        from ayeaye_spark.fixtures.media import (
            MEDIA_RESAMPLE_EXPECTED,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import (
            _resample_linear_int,
            _wav_pcm_int,
        )

        got = []
        for name, blob in sorted(media_fixture_files().items()):
            dec = _wav_pcm_int(blob)
            if dec is None:
                continue
            s, codec, nch, rate, _, _ = dec
            if nch > 1:
                s = s[: (s.size // nch) * nch].reshape(-1, nch).sum(axis=1) // nch
            out = _resample_linear_int(s, rate, 16000)
            got.append((name, codec, rate, int(s.size), int(out.sum())))
            assert out.size == s.size * 16000 // rate
        assert got == [tuple(r) for r in MEDIA_RESAMPLE_EXPECTED]

    def test_media_resample_report_golden(self, spark):
        from ayeaye_spark.catalog import QUERIES
        from ayeaye_spark.fixtures.media import MEDIA_RESAMPLE_EXPECTED

        rows = {r["file"]: r for r in QUERIES["media_resample_report"](
            spark, "/root/testdata/sf0.001").collect()}
        assert len(rows) == len(MEDIA_RESAMPLE_EXPECTED)
        for f, codec, in_rate, n_in, pcm_sum in MEDIA_RESAMPLE_EXPECTED:
            r = rows[f]
            assert r["codec"] == codec and r["sample_rate"] == 16000
            assert r["n_samples"] == n_in * 16000 // in_rate
            assert r["pcm_sum"] == pcm_sum

    def test_stereo_mixdown(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _wav_pcm_int

        frames = [(100, 200), (-100, -301), (32767, 32767)]
        body = b"".join(struct.pack("<hh", l, r) for l, r in frames)
        fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16) + fmt
               + b"data" + struct.pack("<I", len(body)) + body)
        s, _, nch, _, _, _ = _wav_pcm_int(wav)
        mixed = s.reshape(-1, nch).sum(axis=1) // nch
        assert list(mixed) == [150, -201, 32767]  # floor div on negatives


class TestMediaSceneCuts:
    """Pins for the video scene-cut path (catalog entry
    media_scene_cuts): real RIFF demux per-frame dHashes ARE the
    MEDIA_VIDEO_EXPECTED constants; cut logic is lag + hamming."""

    def test_frame_hashes_match_pinned_constants(self):
        from ayeaye_spark.fixtures.media import (
            MEDIA_VIDEO_EXPECTED,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import (
            dhash64,
            split_avi_frames,
        )

        got = []
        for name, blob in sorted(media_fixture_files().items()):
            for i, fr in enumerate(split_avi_frames(blob)):
                got.append((name, i, dhash64(fr)))
        assert got == [tuple(r) for r in MEDIA_VIDEO_EXPECTED]

    def test_extract_keyframes_end_to_end(self, spark):
        """Keyframe extraction: scenes.avi yields frame 0 + the two
        cut frames as standalone image bytes that pipe straight into
        resize_images; non-video rows emit nothing."""
        from ayeaye_spark.fixtures.media import (
            ensure_media_fixture,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import (
            extract_keyframes,
            resize_images,
            split_avi_frames,
        )

        files = spark.read.format("binaryFile").load(ensure_media_fixture())
        kf = extract_keyframes(files)
        rows = [(r["path"].rsplit("/", 1)[-1], r["frame_idx"],
                 r["hamming"], bytes(r["frame"]))
                for r in kf.collect()]
        got = {(f, i): (h, b) for f, i, h, b in rows}
        assert sorted({f for f, _ in got}) == ["clip.avi", "scenes.avi"]
        assert sorted(i for f, i in got if f == "scenes.avi") == [0, 2, 4]
        assert sorted(i for f, i in got if f == "clip.avi") == [0, 1, 2]
        assert got[("scenes.avi", 0)][0] is None  # frame 0 anchors
        assert got[("scenes.avi", 2)][0] >= 16
        # emitted bytes ARE the demuxed frames
        frames = split_avi_frames(media_fixture_files()["scenes.avi"])
        assert got[("scenes.avi", 4)][1] == frames[4]
        # and they pipe into the resize stage as images
        tensors = resize_images(
            kf, content_col="frame", width=8, height=8
        ).where("pixels is not null")
        assert tensors.count() == 6
        for r in tensors.collect():
            assert len(r["pixels"]) == 8 * 8 * 3

    def test_media_scene_cuts_golden(self, spark):
        from ayeaye_spark.catalog import QUERIES

        rows = QUERIES["media_scene_cuts"](
            spark, "/root/testdata/sf0.001").collect()
        got = {(r["file"], r["frame_idx"]): (r["hamming"], r["is_cut"])
               for r in rows}
        # scenes.avi: jittered gradient is the SAME scene (hamming 0),
        # the two hard scene changes cross the 16-bit threshold
        assert got[("scenes.avi", 1)] == (0, False)
        assert got[("scenes.avi", 3)][1] is False
        assert got[("scenes.avi", 2)][1] is True
        assert got[("scenes.avi", 4)][1] is True
        # the rolling-gradient clip is all-motion: every transition cuts
        assert got[("clip.avi", 1)][1] and got[("clip.avi", 2)][1]


class TestResizeImages:
    """Real pure-numpy resize kernel (round-12: the last loud
    NotImplementedError in the media surface replaced with nearest +
    bilinear over the stdlib pixel decoders)."""

    def test_same_size_is_identity(self):
        import numpy as np

        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import (
            _pixel_rgb,
            _resize_array,
        )

        arr = _pixel_rgb(media_fixture_files()["gradient.png"])
        for method in ("nearest", "bilinear"):
            out = _resize_array(arr, arr.shape[1], arr.shape[0], method)
            assert (out == arr).all(), method

    def test_nearest_checkerboard_upscale(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resize_array

        checker = np.zeros((2, 2, 3), np.uint8)
        checker[0, 1] = checker[1, 0] = 255
        out = _resize_array(checker, 4, 4, "nearest")
        want = np.kron(checker[:, :, 0], np.ones((2, 2))).astype(np.uint8)
        assert (out[:, :, 0] == want).all()
        assert (out[:, :, 1] == want).all()

    def test_bilinear_known_values(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resize_array

        ramp = np.array([[[0], [255]]], np.uint8).repeat(3, axis=2)  # 1x2
        out = _resize_array(ramp, 4, 1, "bilinear")
        # align-corners=False src x = [-0.25, 0.25, 0.75, 1.25] ->
        # [edge-clamped 0, 255*0.25, 255*0.75, edge-clamped 255]
        assert out[0, :, 0].tolist() == [0, 64, 191, 255]

    def test_downscale_block_mean_exact(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _resize_array

        # 4x4 -> 2x2 bilinear samples at src coords 0.5 / 2.5: each
        # output pixel is the mean of the 2x2 neighborhood it straddles
        a = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        out = _resize_array(a, 2, 2, "bilinear")
        f = a.astype(float)
        assert (out[0, 0] == np.rint(f[0:2, 0:2].mean(axis=(0, 1)))).all()
        assert (out[1, 1] == np.rint(f[2:4, 2:4].mean(axis=(0, 1)))).all()

    def test_cross_format_resize_identical(self):
        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import _pixel_rgb, _resize_array

        blobs = media_fixture_files()
        png = _resize_array(_pixel_rgb(blobs["gradient.png"]), 8, 8)
        bmp = _resize_array(_pixel_rgb(blobs["gradient.bmp"]), 8, 8)
        assert (png == bmp).all()

    def test_resize_images_end_to_end(self, spark):
        import numpy as np

        from ayeaye_spark.fixtures.media import ensure_media_fixture
        from ayeaye_spark.operators.multimodal import resize_images

        files = spark.read.format("binaryFile").load(ensure_media_fixture())
        rows = {r["path"].rsplit("/", 1)[-1]: r
                for r in resize_images(files, width=16, height=16).collect()}
        assert len(rows) == 11
        for name in ("gradient.png", "gradient.bmp", "palette.gif",
                     "blocks8.bmp", "deep16.png"):
            px = rows[name]["pixels"]
            assert px is not None and len(px) == 16 * 16 * 3, name
        # cross-format pair resizes to identical tensors
        assert bytes(rows["gradient.png"]["pixels"]) == bytes(
            rows["gradient.bmp"]["pixels"])
        # undecodable rows (audio, video container) ride the batch
        # with null pixels — route to split_avi_frames / codec workers
        assert rows["tone.wav"]["pixels"] is None
        assert rows["clip.avi"]["pixels"] is None
        # consumer-side tensor layout contract
        arr = np.frombuffer(bytes(rows["palette.gif"]["pixels"]),
                            np.uint8).reshape(16, 16, 3)
        assert arr.shape == (16, 16, 3)

    def test_bad_args_raise(self, spark):
        import pytest as _pytest

        from ayeaye_spark.operators.multimodal import resize_images

        df = spark.createDataFrame([("p", bytearray(b""))],
                                   ["path", "content"])
        with _pytest.raises(ValueError):
            resize_images(df, method="bicubic")
        with _pytest.raises(ValueError):
            resize_images(df, width=0)


class TestRealImageFeatures:
    """Content-level thumbnail embedding over the stdlib decoders
    (round 12): cross-format identical, edit-robust, None-routing."""

    def test_cross_format_identical(self):
        from ayeaye_spark.fixtures.media import media_fixture_files
        from ayeaye_spark.operators.multimodal import real_image_features

        blobs = media_fixture_files()
        png = real_image_features(blobs["gradient.png"])
        bmp = real_image_features(blobs["gradient.bmp"])
        assert png is not None and png == bmp
        assert len(png) == 64
        # L2-normalized and mean-centered
        assert abs(sum(x * x for x in png) - 1.0) < 1e-9
        assert abs(sum(png)) < 1e-9

    def test_edit_robust_structure_sensitive(self):
        import numpy as np

        from ayeaye_spark.fixtures.media import encode_bmp24, _gradient_px
        from ayeaye_spark.operators.multimodal import real_image_features

        base = _gradient_px()
        edited = base.copy()
        edited[0, 0] = [255, 255, 255]  # one-pixel edit
        flipped = base[:, ::-1].copy()  # structurally different
        f0 = np.array(real_image_features(encode_bmp24(base)))
        f1 = np.array(real_image_features(encode_bmp24(edited)))
        f2 = np.array(real_image_features(encode_bmp24(flipped)))
        # one edited pixel on a 16x12 image still moves a thumbnail
        # cell; the margin vs a structural change is what matters
        assert float(f0 @ f1) > 0.85       # near-dup stays close
        assert float(f0 @ f2) < 0.5        # flip moves far away

    def test_undecodable_and_flat(self):
        from ayeaye_spark.fixtures.media import (
            encode_bmp24,
            media_fixture_files,
        )
        from ayeaye_spark.operators.multimodal import real_image_features
        import numpy as np

        assert real_image_features(media_fixture_files()["tone.wav"]) is None
        assert real_image_features(b"") is None
        flat = encode_bmp24(np.full((12, 16, 3), 77, np.uint8))
        assert real_image_features(flat) == [0.0] * 64

    def test_extract_features_real_near_dup_end_to_end(self, spark):
        """The media pipeline with the REAL featurizer: the PNG/BMP
        renderings of the same image pair up as embedding near-dups."""
        from ayeaye_spark.fixtures.media import ensure_media_fixture
        from ayeaye_spark.operators.multimodal import (
            extract_features,
            real_image_features,
        )
        from ayeaye_spark.operators.similarity import embedding_near_dup_pairs
        from pyspark.sql import functions as F

        files = spark.read.format("binaryFile").load(ensure_media_fixture())
        feats = extract_features(
            files, featurizer=real_image_features
        ).where(F.col("features").isNotNull()).withColumn(
            "media_id", F.xxhash64("path")
        )
        assert feats.count() == 5  # wav routed out
        pairs = embedding_near_dup_pairs(
            feats, id_col="media_id", vec_col="features",
            threshold=0.999,
        )
        names = {
            tuple(sorted((a.rsplit("/", 1)[-1], b.rsplit("/", 1)[-1])))
            for a, b in feats.alias("x").join(
                pairs, F.col("x.media_id") == pairs.media_id_a
            ).join(
                feats.alias("y"),
                pairs.media_id_b == F.col("y.media_id"),
            ).select(F.col("x.path"), F.col("y.path")).collect()
        }
        assert names == {("gradient.bmp", "gradient.png")}


class TestMediaParserProperties:
    def test_png_roundtrip_random_dims(self):
        import struct
        import zlib

        from hypothesis import given, settings
        from hypothesis import strategies as st

        def make_png(w, h, color, depth=8):
            def chunk(ctype, data):
                return (struct.pack(">I", len(data)) + ctype + data
                        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
            ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
            return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")

        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

        @settings(max_examples=50, deadline=None)
        @given(w=st.integers(1, 1 << 24), h=st.integers(1, 1 << 24),
               color=st.sampled_from([0, 2, 3, 4, 6]))
        def check(w, h, color):
            got = multimodal.parse_png_header(make_png(w, h, color))
            assert got == {"format": "png", "width": w, "height": h,
                           "channels": channels[color]}

        check()

    def test_wav_roundtrip_random_audio(self, tmp_path):
        import io
        import struct
        import wave

        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=30, deadline=None)
        @given(nch=st.integers(1, 2), rate=st.sampled_from([8000, 16000, 44100]),
               frames=st.integers(1, 5000))
        def check(nch, rate, frames):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as f:
                f.setnchannels(nch)
                f.setsampwidth(2)
                f.setframerate(rate)
                f.writeframes(b"\x00\x00" * frames * nch)
            got = multimodal.parse_wav_header(buf.getvalue())
            byte_rate = rate * nch * 2
            assert got["channels"] == nch and got["sample_rate"] == rate
            assert got["duration_ms"] == frames * nch * 2 * 1000 // byte_rate

        check()

    def test_parsers_never_crash_on_junk(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=200, deadline=None)
        @given(b=st.binary(max_size=200))
        def check(b):
            # any of: parsed dict or None — never an exception/hang
            for p in (multimodal.parse_png_header, multimodal.parse_jpeg_header,
                      multimodal.parse_gif_header, multimodal.parse_bmp_header,
                      multimodal.parse_wav_header):
                r = p(b)
                assert r is None or isinstance(r, dict)
            assert isinstance(multimodal.header_decode(b), dict)

        check()


class TestPointerJumpingConvergence:
    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 300-edge chain has diameter 300: the star rounds close it in
        # 10 rounds, the last of which confirms the fixpoint
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(300)], ["a", "b"]
        )
        comps = _components(edges, collect_threshold=0, max_rounds=10)
        assert set(comps.values()) == {0}
        assert len(comps) == 301


class TestBlockedLsh:
    def test_block_col_prevents_cross_block_pairs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base, "en"), (2, base + " extra", "en"),
             (3, base, "fr"),   # textually identical to 1 but another block
             (4, "completely unrelated words here none match at all", "en")],
            ["doc_id", "text", "lang"],
        )
        kw = dict(n=3, k=16, bands=4, threshold=0.3)
        blocked = {(p["doc_id_a"], p["doc_id_b"]) for p in
                   dedup.minhash_lsh_pairs(df, "doc_id", "text",
                                           block_col="lang", **kw).collect()}
        assert blocked == {(1, 2)}  # (1,3) suppressed by the block
        unblocked = {(p["doc_id_a"], p["doc_id_b"]) for p in
                     dedup.minhash_lsh_pairs(df, "doc_id", "text", **kw).collect()}
        assert (1, 3) in unblocked


class TestReviewRegressions2:
    def test_incremental_dedup_with_block_col(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        existing = spark.createDataFrame([(1, base, "en")], ["doc_id", "text", "lang"])
        increment = spark.createDataFrame(
            [(10, base + " extra", "en"),   # near-dups existing in same block -> drop
             (11, base + " extra", "fr")],  # same text, another block -> kept
            ["doc_id", "text", "lang"],
        )
        out = dedup.minhash_dedup_incremental(
            existing, increment, "doc_id", "text",
            n=3, k=16, bands=4, threshold=0.3, block_col="lang",
        )
        assert sorted(r["doc_id"] for r in out.collect()) == [11]

    def test_vectorized_signatures_extra_cols_single_pass(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e", "en"), (2, "f g h i j", "fr")],
            ["doc_id", "text", "lang"],
        )
        sig = dedup.minhash_signatures_vectorized(
            df, "doc_id", "text", n=2, k=4, extra_cols=("lang",)
        )
        rows = {r["_id"]: r["lang"] for r in sig.collect()}
        assert rows == {1: "en", 2: "fr"}
        plan = sig._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1 and "Join" not in plan


class TestTwoSignatureFused:
    def test_fused_pass_matches_separate_signatures_and_pairs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, ""),
             (4, "completely unrelated words here none match at all")],
            ["doc_id", "text"],
        )
        fused = dedup.two_signature_vectorized(df, "doc_id", "text", n=3, k=16)
        sep_mh = {r["_id"]: (r["minhash"], sorted(r["_hashset"])) for r in
                  dedup.minhash_signatures_vectorized(
                      df, "doc_id", "text", n=3, k=16).collect()}
        sep_sh = {r["doc_id"]: r["simhash"] for r in
                  dedup.simhash_vectorized(df, "doc_id", "text").collect()}
        for r in fused.collect():
            assert (r["minhash"], sorted(r["_hashset"])) == sep_mh[r["_id"]]
            assert r["simhash"] == sep_sh[r["_id"]]
        # one Arrow pass, and stages 2-4 over the fused frame reproduce
        # the end-to-end operator's pairs exactly
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        from_sig = {(p["doc_id_a"], p["doc_id_b"], p["jaccard"]) for p in
                    dedup.minhash_lsh_pairs_from_signatures(
                        fused, "doc_id", k=16, bands=4, threshold=0.3).collect()}
        end_to_end = {(p["doc_id_a"], p["doc_id_b"], p["jaccard"]) for p in
                      dedup.minhash_lsh_pairs(df, "doc_id", "text",
                                              n=3, k=16, bands=4,
                                              threshold=0.3).collect()}
        assert from_sig == end_to_end and (1, 2) in {p[:2] for p in from_sig}


class TestSignatureProfileFused:
    def test_fused_pass_matches_separate_signature_and_profile(self, spark):
        from ayeaye_spark.operators import text as textops

        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, ""), (4, None),
             (5, "le chat et le chien sont dans la maison avec le vin")],
            ["doc_id", "text"],
        )
        fused = dedup.signature_profile_vectorized(df, "doc_id", "text", n=3, k=16)
        sep_mh = {r["_id"]: (r["minhash"], sorted(r["_hashset"])) for r in
                  dedup.minhash_signatures_vectorized(
                      df, "doc_id", "text", n=3, k=16).collect()}
        sep_prof = {r["doc_id"]: (r["lang_pred"], r["quality_ppm"]) for r in
                    textops.profile_vectorized(df, "doc_id", "text").collect()}
        rows = fused.collect()
        assert len(rows) == 5
        for r in rows:
            assert (r["minhash"], sorted(r["_hashset"])) == sep_mh[r["_id"]]
            assert (r["lang_pred"], r["quality_ppm"]) == sep_prof[r["_id"]]
        # one Arrow pass end to end
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1


class TestAutoShingleDf:
    def test_auto_prunes_hot_shingles_only(self, spark):
        common = "aa bb cc"
        rows = [(i, f"{common} unique{i} filler{i} other{i}") for i in range(150)]
        rows += [(1000, "rare pair content shared exactly here today"),
                 (1001, "rare pair content shared exactly here today zz")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = {(p["doc_id_a"], p["doc_id_b"]) for p in
                 dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.3,
                                           max_shingle_df="auto").collect()}
        # the rare near-dup pair survives; the 150 common-phrase docs share
        # ONLY pruned hot shingles (df=150 > 100) so they produce no pairs
        assert (1000, 1001) in pairs
        assert not any(a < 1000 and b < 1000 for a, b in pairs)


class TestCumsumProperties:
    def test_budget_filter_matches_global_window_randomized(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ayeaye_spark.operators import sampling

        @settings(max_examples=8, deadline=None)
        @given(
            rows=st.lists(
                st.tuples(
                    st.integers(-1000, 1000),            # id (may be negative)
                    st.integers(1, 50),                  # tokens
                    st.integers(-500, 500),              # integer score
                ),
                min_size=1, max_size=60, unique_by=lambda t: t[0],
            ),
            budget=st.integers(1, 800),
        )
        def check(rows, budget):
            df = spark.createDataFrame(rows, ["id", "ntok", "score"])
            got = sorted(
                r["id"] for r in sampling.token_budget_filter(
                    df, id_col="id", token_col="ntok", score_col="score",
                    budget=budget,
                ).collect()
            )
            # ground truth: python cumsum over the total order
            want, cum = [], 0
            for i, n, s in sorted(rows, key=lambda t: (-t[2], t[0])):
                cum += n
                if cum <= budget:
                    want.append(i)
            assert got == sorted(want)

        check()

    def test_pack_sequences_matches_python_randomized(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ayeaye_spark.operators import sampling

        @settings(max_examples=8, deadline=None)
        @given(
            rows=st.lists(
                st.tuples(st.integers(-10_000, 10_000), st.integers(1, 100)),
                min_size=1, max_size=60, unique_by=lambda t: t[0],
            ),
            budget=st.integers(8, 256),
            width=st.sampled_from([4, 64, 65536]),
        )
        def check(rows, budget, width):
            df = spark.createDataFrame(rows, ["id", "ntok"])
            got = {r["id"]: r["pack_id"] for r in sampling.pack_sequences(
                df, id_col="id", token_col="ntok", budget=budget,
                id_bucket_width=width,
            ).collect()}
            cum, want = 0, {}
            for i, n in sorted(rows):
                want[i] = cum // budget
                cum += n
            assert got == want

        check()


class TestAutoShingleDfValidation:
    def test_unknown_string_raises_at_call_time(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="auto"):
            dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_shingle_df="Auto")


class TestExactGroupQuantiles:
    def test_matches_sorted_order_statistics(self, spark):
        import math
        import random

        from ayeaye_spark.operators import relational

        rnd = random.Random(7)
        rows = [("g%d" % (i % 3), rnd.uniform(-50, 50)) for i in range(999)]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {r["g"]: (r["q_25"], r["q_50"], r["q_75"]) for r in
               relational.exact_group_quantiles(df, "g", "v", bucket_width=5.0).collect()}
        for g in ("g0", "g1", "g2"):
            vals = sorted(v for k, v in rows if k == g)
            n = len(vals)
            want = tuple(vals[max(math.ceil(n * q), 1) - 1] for q in (0.25, 0.5, 0.75))
            assert got[g] == want

    def test_duplicate_heavy_and_tiny_groups(self, spark):
        from ayeaye_spark.operators import relational

        rows = [("a", 1.0)] * 50 + [("a", 2.0)] * 50 + [("b", 9.0)]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {r["g"]: (r["q_25"], r["q_50"], r["q_75"]) for r in
               relational.exact_group_quantiles(df, "g", "v").collect()}
        assert got["a"] == (1.0, 1.0, 2.0)   # ranks 25, 50, 75 of [1x50, 2x50]
        assert got["b"] == (9.0, 9.0, 9.0)


class TestUdtfRegistry:
    """UDTFs are the SQL-addressable extensibility surface; each has a
    built-in twin the tests hold it equivalent to (the twin is the hot
    path)."""

    def test_split_tokens_matches_posexplode_twin(self, spark):
        from ayeaye_spark.functions.udtf_registry import register_udtfs

        names = register_udtfs(spark)
        assert {"split_tokens", "json_kv"} <= set(names)
        spark.createDataFrame(
            [
                (1, "the quick brown fox"),
                (2, ""),
                (3, None),
                (4, "  padded   both ends  "),
            ],
            ["id", "text"],
        ).createOrReplaceTempView("t_docs")
        via_udtf = spark.sql(
            "SELECT d.id, s.pos, s.word FROM t_docs d, "
            "LATERAL split_tokens(d.text) s"
        ).collect()
        # the DOCUMENTED twin: trim + empty-string guard (regex split
        # emits '' tokens on padded/empty input that str.split never
        # does, shifting positions)
        twin = spark.sql(
            "SELECT id, pos, word FROM t_docs, "
            "LATERAL posexplode(split(trim(text), '\\\\s+')) AS s(pos, word) "
            "WHERE word != ''"
        ).collect()
        assert sorted(map(tuple, via_udtf)) == sorted(map(tuple, twin))
        assert any(r["id"] == 4 for r in via_udtf)  # padded text covered

    def test_json_kv_handles_heterogeneous_values(self, spark):
        from ayeaye_spark.functions.udtf_registry import register_udtfs

        register_udtfs(spark)
        rows = spark.sql(
            """SELECT * FROM json_kv('{"a": "x", "n": 3, "o": {"k": 1}}')"""
        ).collect()
        got = {r["key"]: r["value"] for r in rows}
        assert got == {"a": "x", "n": "3", "o": '{"k": 1}'}

    def test_json_kv_ignores_invalid_docs(self, spark):
        from ayeaye_spark.functions.udtf_registry import register_udtfs

        register_udtfs(spark)
        assert spark.sql("SELECT * FROM json_kv('not json')").count() == 0
        assert spark.sql("SELECT * FROM json_kv('[1,2]')").count() == 0

    def test_extra_registration(self, spark):
        from pyspark.sql.functions import udtf

        from ayeaye_spark.functions.udtf_registry import register_udtfs

        @udtf(returnType="n: int")
        class Pair:
            def eval(self, x: int):
                yield x,
                yield x + 1,

        names = register_udtfs(spark, pair=Pair)
        assert "pair" in names
        vals = [r["n"] for r in spark.sql("SELECT * FROM pair(5)").collect()]
        assert vals == [5, 6]


class TestGroupedAggPandasUdf:
    def test_weighted_quality_matches_builtin_twin(self, spark):
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [
                (1, "en", 40, "the quick brown fox jumps over the lazy dog"),
                (2, "en", 10, "zzz qqq"),
                (3, "de", 25, "der schnelle braune fuchs"),
                (4, "de", 5, ""),
            ],
            ["doc_id", "lang", "n_chars", "text"],
        )
        got = {
            r["lang"]: (r["wq_ppm"], r["n_docs"])
            for r in textops.weighted_quality_by_group(
                docs, "lang", "n_chars"
            ).collect()
        }
        prof = textops.with_quality_score(docs, "text")
        twin = {
            r["lang"]: (r["wq_ppm"], r["n_docs"])
            for r in prof.groupBy("lang")
            .agg(
                F.expr("sum(quality_ppm * n_chars) div sum(n_chars)").alias("wq_ppm"),
                F.count(F.lit(1)).alias("n_docs"),
            )
            .collect()
        }
        assert got == twin and set(got) == {"en", "de"}

    def test_null_rows_skipped_not_wrapped(self, spark):
        """A null text row yields null quality_ppm; without the pairwise
        null mask the NaN→int64 cast wraps to INT64_MIN and poisons the
        sum.  Null rows must be skipped (weight excluded from the
        denominator), matching the documented SQL twin."""
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [(1, "en", 40, "hello world this is fine"), (2, "en", 10, None)],
            ["doc_id", "lang", "n_chars", "text"],
        )
        row = textops.weighted_quality_by_group(docs, "lang", "n_chars").collect()[0]
        prof = textops.with_quality_score(docs, "text")
        twin = prof.groupBy("lang").agg(
            F.expr(
                "sum(quality_ppm * n_chars) div "
                "sum(CASE WHEN quality_ppm IS NOT NULL THEN n_chars END)"
            ).alias("wq_ppm")
        ).collect()[0]
        assert row["wq_ppm"] == twin["wq_ppm"] and row["wq_ppm"] > 0
        assert row["n_docs"] == 2  # count still covers all rows


class TestScd2Randomized:
    def test_matches_python_reference_on_seeded_batches(self, spark):
        """scd2_apply vs a straightforward Python reference over seeded
        random current/update batches — covers multi-update chains,
        untouched keys, closed history, and brand-new keys in bulk."""
        import random

        from ayeaye_spark.operators.scd import scd2_apply

        rng = random.Random(42)
        for trial in range(3):
            keys = [f"k{i}" for i in range(20)]
            current_rows = []
            for i, k in enumerate(keys):
                # ~half the keys have closed history; all have an open row
                if rng.random() < 0.5:
                    current_rows.append((k, f"t{rng.randrange(5)}", 0, 5))
                current_rows.append((k, f"t{rng.randrange(5)}", 5, None))
            update_rows = []
            for k in rng.sample(keys, 8) + [f"new{trial}"]:
                for ts in sorted(rng.sample(range(10, 100), rng.randrange(1, 4))):
                    update_rows.append((k, f"t{rng.randrange(5)}", ts))

            current = spark.createDataFrame(
                current_rows, "key string, tier string, valid_from long, valid_to long"
            )
            updates = spark.createDataFrame(
                update_rows, "key string, tier string, ts long"
            )
            got = sorted(
                (r["key"], r["tier"], r["valid_from"], r["valid_to"])
                for r in scd2_apply(
                    current, updates, key="key", ts_col="ts", attr_cols=["tier"]
                ).collect()
            )

            # python reference: per key, chain open row + updates by ts
            updated = {r[0] for r in update_rows}
            want = []
            for k, tier, vf, vt in current_rows:
                if k not in updated or vt is not None:
                    want.append((k, tier, vf, vt))
            chains: dict = {}
            for k, tier, vf, vt in current_rows:
                if k in updated and vt is None:
                    chains.setdefault(k, []).append((vf, tier))
            for k, tier, ts in update_rows:
                chains.setdefault(k, []).append((ts, tier))
            for k, chain in chains.items():
                chain.sort()
                for i, (vf, tier) in enumerate(chain):
                    vt = chain[i + 1][0] if i + 1 < len(chain) else None
                    want.append((k, tier, vf, vt))
            assert got == sorted(want), f"trial {trial} diverged"


class TestBlockedMinhashEdgeCases:
    def test_null_block_never_pairs(self, spark):
        """SQL-equality semantics: NULL block values must not pair (the
        band key would otherwise silently drop the null and merge them
        into one unblocked bucket)."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base, None), (2, base + " extra", None), (3, base, "en"), (4, base + " extra", "en")],
            ["doc_id", "text", "lang"],
        )
        pairs = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3, block_col="lang"
        ).collect()
        assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(3, 4)]

    def test_separator_in_block_value_cannot_alias(self, spark):
        """A block value containing the band-key separator ('-') must not
        merge buckets across blocks — the length prefix pins the block
        boundary."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base, "zh-TW"), (2, base + " extra", "zh"), (3, base + " extra", "zh-TW")],
            ["doc_id", "text", "lang"],
        )
        pairs = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3, block_col="lang"
        ).collect()
        # only the same-block near-dup pair survives
        assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(1, 3)]


class TestSimhashNearPairs:
    def test_hamming_pairs_found_and_verified(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "completely unrelated words here none")],
            ["doc_id", "text"],
        )
        pairs = dedup.simhash_near_pairs(
            df, "doc_id", "text", max_hamming=3, bands=4
        ).collect()
        got = {(p["doc_id_a"], p["doc_id_b"]): p["hamming"] for p in pairs}
        assert set(got) == {(1, 2)} and 0 <= got[(1, 2)] <= 3

    def test_identical_docs_hamming_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
        )
        pairs = dedup.simhash_near_pairs(df, "doc_id", "text").collect()
        assert [(p["doc_id_a"], p["doc_id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]

    def test_pigeonhole_premise_enforced(self, spark):
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="max_hamming < bands"):
            dedup.simhash_near_pairs(df, "doc_id", "text", max_hamming=4, bands=4)

    def test_simple_signature_path_matches_vectorized(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "unrelated words entirely different")],
            ["doc_id", "text"],
        )
        vec = sorted(
            tuple(r) for r in dedup.simhash_near_pairs(
                df, "doc_id", "text", signature="vectorized").collect()
        )
        simple = sorted(
            tuple(r) for r in dedup.simhash_near_pairs(
                df, "doc_id", "text", signature="simple").collect()
        )
        assert vec == simple and vec


class TestGroupedAggDegenerateGroup:
    def test_all_null_group_yields_null_like_sql_twin(self, spark):
        """A group whose quality values are ALL null has denominator 0;
        SQL's `SUM(q*w) div SUM(CASE WHEN q IS NOT NULL THEN w END)` is
        int-div-by-NULL => NULL.  The UDAF must agree (it returned 0
        before, silently diverging from its documented twin)."""
        from pyspark.sql import functions as F

        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [(1, "en", 40, "hello world this is fine"),
             (2, "xx", 10, None), (3, "xx", 7, None)],
            ["doc_id", "lang", "n_chars", "text"],
        )
        got = {
            r["lang"]: r["wq_ppm"]
            for r in textops.weighted_quality_by_group(
                docs, "lang", "n_chars"
            ).collect()
        }
        prof = textops.with_quality_score(docs, "text")
        twin = {
            r["lang"]: r["wq_ppm"]
            for r in prof.groupBy("lang").agg(
                F.expr(
                    "sum(quality_ppm * n_chars) div "
                    "sum(CASE WHEN quality_ppm IS NOT NULL THEN n_chars END)"
                ).alias("wq_ppm")
            ).collect()
        }
        assert got == twin
        assert got["xx"] is None and got["en"] is not None


class TestRemoveRepeatedSpans:
    def _clean(self, spark, rows, n=3, min_docs=2):
        from ayeaye_spark.operators.dedup import remove_repeated_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["total_tokens"], r["removed_tokens"], r["clean_text"])
            for r in remove_repeated_spans(df, "doc_id", "text", n=n,
                                           min_docs=min_docs).collect()
        }

    def test_canonical_occurrence_survives(self, spark):
        """'a b c d e' shared by docs 1 and 2: doc 1 holds the canonical
        (min doc, min pos) windows and keeps its text; doc 2 loses the
        whole 5-token run (overlapping windows merged); doc 3 untouched."""
        got = self._clean(spark, [
            (1, "a b c d e f"),
            (2, "x y a b c d e q"),
            (3, "p q r s t u v"),
        ])
        assert got[1] == (6, 0, "a b c d e f")
        assert got[2] == (8, 5, "x y q")
        assert got[3] == (7, 0, "p q r s t u v")

    def test_disjoint_repeats_cut_separately(self, spark):
        """Two disjoint shared trigrams: doc 2 (later doc id) loses both
        runs but keeps the non-shared middle tokens."""
        got = self._clean(spark, [
            (1, "a b c zz1 zz2 zz3 zz4 d e f"),
            (2, "a b c mm nn d e f"),
        ])
        assert got[1] == (10, 0, "a b c zz1 zz2 zz3 zz4 d e f")
        assert got[2] == (8, 6, "mm nn")

    def test_within_doc_repeat_kept_when_cross_doc(self, spark):
        """A trigram occurring twice in doc 1 and once in doc 2: doc 1's
        FIRST occurrence is canonical, its second occurrence and doc 2's
        occurrence are cut."""
        got = self._clean(spark, [
            (1, "a b c q1 q2 a b c"),
            (2, "zz a b c yy"),
        ])
        assert got[1] == (8, 3, "a b c q1 q2")
        assert got[2] == (5, 3, "zz yy")

    def test_empty_and_null_text(self, spark):
        got = self._clean(spark, [(1, ""), (2, None), (3, "solo text here")])
        assert got[1] == (0, 0, "")
        assert got[2] == (0, 0, "")
        assert got[3] == (3, 0, "solo text here")


class TestRepeatedSpanProfile:
    def _profile(self, spark, rows, n=3, min_docs=2):
        from ayeaye_spark.operators.dedup import repeated_span_profile

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["total_tokens"], r["n_spans"], r["dup_tokens"], r["dup_ppm"])
            for r in repeated_span_profile(df, "doc_id", "text", n=n,
                                           min_docs=min_docs).collect()
        }

    def test_contiguous_run_merges_to_one_span(self, spark):
        """'a b c d e' shared between A and B: three overlapping 3-gram
        windows merge into ONE maximal span covering 5 tokens."""
        got = self._profile(spark, [
            (1, "a b c d e f"),
            (2, "x y a b c d e q"),
            (3, "p q r s t u v"),
        ])
        assert got == {
            1: (6, 1, 5, 5 * 1_000_000 // 6),
            2: (8, 1, 5, 5 * 1_000_000 // 8),
        }  # doc 3 shares nothing -> absent

    def test_separated_repeats_count_two_spans(self, spark):
        """Two disjoint shared trigrams in one doc: 2 spans, union 6."""
        got = self._profile(spark, [
            (1, "a b c zz1 zz2 zz3 zz4 d e f"),
            (2, "a b c mm nn d e f"),
        ])
        assert got[1] == (10, 2, 6, 6 * 1_000_000 // 10)
        assert got[2] == (8, 2, 6, 6 * 1_000_000 // 8)

    def test_within_doc_repeat_alone_does_not_count(self, spark):
        """min_docs=2 counts CROSS-document repeats: a doc repeating its
        own trigram with no other doc sharing it produces no row."""
        got = self._profile(spark, [
            (1, "a b c a b c"),
            (2, "x y z w v u"),
        ])
        assert got == {}

    def test_short_docs_produce_no_windows(self, spark):
        got = self._profile(spark, [(1, "a b"), (2, "a b")])
        assert got == {}  # < n tokens: no n-gram windows at all


class TestCosineRangeSearch:
    def test_threshold_selects_and_excludes_self(self, spark):
        from ayeaye_spark.operators.similarity import cosine_range_search

        rows = [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),   # cosine 1.0 with 1
            (3, [0.0, 1.0]),   # cosine 0.0 with 1
            (4, [0.8, 0.6]),   # cosine 0.8 with 1
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_range_search(
                df, df.where("vec_id = 1"), threshold=0.5
            ).collect()
        }
        assert set(got) == {(1, 2), (1, 4)}  # self and orthogonal excluded
        assert got[(1, 2)] == 1.0 and abs(got[(1, 4)] - 0.8) < 1e-12


class TestSourceQualityFilter:
    def test_low_mean_source_dropped_entirely(self, spark):
        from ayeaye_spark.operators import text as textops

        rows = [
            (1, "good", "the quick brown fox jumps over the lazy dog again"),
            (2, "good", "a fine and well written sentence with many words"),
            (3, "bad", "zzz"),
            (4, "bad", "qqq ##### !!!"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
        kept = textops.source_quality_filter(
            df, "text", "source", min_mean_ppm=500_000
        )
        out = kept.select("doc_id", "source").collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2]
        assert {r["source"] for r in out} == {"good"}  # doc 3,4 dropped via source


class TestSimhash60:
    def test_wide_sql_path_matches_vectorized(self, spark):
        """The 60-bit fingerprint's SQL-expression path and numpy twin
        must agree bitwise (same contract the 32-bit pair has)."""
        base = "the quick brown fox jumps over the lazy dog again and again today"
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, "unrelated words entirely different")],
            ["doc_id", "text"],
        )
        vec = sorted(
            tuple(r) for r in dedup.simhash_near_pairs(
                df, "doc_id", "text", signature="vectorized",
                max_hamming=9, bands=10, fp_bits=60).collect()
        )
        simple = sorted(
            tuple(r) for r in dedup.simhash_near_pairs(
                df, "doc_id", "text", signature="simple",
                max_hamming=9, bands=10, fp_bits=60).collect()
        )
        assert vec == simple and vec

    def test_wide_is_more_selective_than_compact(self, spark):
        """At the same Hamming budget the 60-bit fingerprint admits a
        SUBSET of the 32-bit variant's pairs on near-miss docs — the
        compact fingerprint saturates and over-pairs, which is exactly
        why the wide one is the scale path."""
        rows = [(i, f"doc number {i} shares a large common prefix of words "
                    f"with every sibling but then diverges uniquely "
                    + " ".join(f"tok{i}_{j}" for j in range(6)))
                for i in range(12)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        compact = {(r["doc_id_a"], r["doc_id_b"]) for r in dedup.simhash_near_pairs(
            df, "doc_id", "text", max_hamming=3, bands=4, fp_bits=32).collect()}
        wide = {(r["doc_id_a"], r["doc_id_b"]) for r in dedup.simhash_near_pairs(
            df, "doc_id", "text", max_hamming=3, bands=4, fp_bits=60).collect()}
        assert wide <= compact

    def test_identical_docs_hamming_zero_wide(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma")], ["doc_id", "text"]
        )
        pairs = dedup.simhash_near_pairs(
            df, "doc_id", "text", fp_bits=60
        ).collect()
        assert [(p["doc_id_a"], p["doc_id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


class TestRealSampleDecode:
    FIXTURES = "tests/fixtures/media"

    def test_wav_pcm_stats_golden(self):
        """Full PCM decode of the golden fixture: 2000 16-bit samples at
        8 kHz.  rms/peak are real sample statistics, not header fields."""
        b = open(f"{self.FIXTURES}/tiny.wav", "rb").read()
        got = multimodal.decode_wav_samples(b)
        assert got["n_samples"] == 2000 and got["sample_rate"] == 8000
        assert got["duration_ms"] == 250
        assert 0.0 < got["rms"] <= got["peak"] <= 1.0

    def test_wav_synthetic_known_rms(self):
        """A constructed full-scale square wave has rms == peak == max
        16-bit amplitude — pins the normalization math exactly."""
        import struct

        n, rate = 64, 1000
        samples = b"".join(
            struct.pack("<h", 16384 if i % 2 == 0 else -16384) for i in range(n)
        )
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(samples))
        )
        got = multimodal.decode_wav_samples(hdr + samples)
        assert got["n_samples"] == n
        assert abs(got["rms"] - 0.5) < 1e-12 and abs(got["peak"] - 0.5) < 1e-12

    def test_bmp_pixel_mean_golden(self):
        b = open(f"{self.FIXTURES}/tiny.bmp", "rb").read()
        got = multimodal.decode_bmp_pixels(b)
        assert (got["width"], got["height"]) == (1, 2)
        import struct

        import numpy as np

        off = struct.unpack("<I", b[10:14])[0]
        px = np.frombuffer(b[off : off + 8], dtype=np.uint8).reshape(2, 4)[:, :3]
        assert got["mean_intensity"] == float(px.mean())  # true pixel mean

    def test_bmp_synthetic_known_mean(self):
        import struct

        # 2x1 24-bit BMP: pixels (10,20,30) and (40,50,60); stride pads to 8
        row = bytes([10, 20, 30, 40, 50, 60, 0, 0])
        hdr = (
            b"BM" + struct.pack("<IHHI", 54 + len(row), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row), 0, 0, 0, 0)
        )
        got = multimodal.decode_bmp_pixels(hdr + row)
        assert got["width"] == 2 and got["height"] == 1
        assert got["mean_intensity"] == 35.0  # mean of the six channel bytes

    def test_compressed_formats_return_none(self):
        png = open(f"{self.FIXTURES}/tiny.png", "rb").read()
        assert multimodal.decode_bmp_pixels(png) is None
        assert multimodal.decode_wav_samples(png) is None

    def test_decode_audio_end_to_end(self, spark):
        df = multimodal.read_binary_dir(spark, self.FIXTURES, "audio")
        rows = {r["path"].rsplit("/", 1)[-1]: r
                for r in multimodal.decode_audio(df).collect()}
        wav = rows["tiny.wav"]
        assert wav["n_samples"] == 2000 and wav["rms"] > 0
        # non-audio files rode the same batch with null stats, no crash
        assert rows["tiny.png"]["n_samples"] is None

    def test_sample_decode_fills_real_bmp_intensity(self, spark):
        df = multimodal.read_binary_dir(spark, self.FIXTURES, "image")
        got = {r["format"]: r for r in multimodal.decode_images(
            df, decoder=multimodal.sample_decode).collect()}
        assert got["bmp"]["mean_intensity"] is not None   # real pixels
        # round 8: PNG decodes for real too (stdlib zlib inflate +
        # hand-undone scanline filters) — true intensity, not None
        assert got["png"]["mean_intensity"] is not None
        assert got["png"]["width"] == 3                    # metadata kept


class TestRepeatedSpanRandomizedCrossCheck:
    def test_random_corpus_matches_bruteforce(self, spark):
        """Seeded random corpus from a small vocabulary (so shared
        n-grams actually arise) — the distributed span profile must
        match an independent brute-force Python computation doc-for-doc
        (positions, interval union, span count, ppm)."""
        import random

        from ayeaye_spark.functions import portable_py as PY
        from ayeaye_spark.operators.dedup import repeated_span_profile

        rng = random.Random(4242)
        vocab = [f"w{i}" for i in range(12)]
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
            for d in range(60)
        ]
        n = 3

        cache: dict = {}
        grams = {
            d: PY.shingle_hashes_positional(
                PY.token_hashes(PY.tokens(t), cache), n
            ).tolist()
            for d, t in docs
        }
        owner: dict = {}
        for d, gs in grams.items():
            for sh in set(gs):
                owner.setdefault(sh, set()).add(d)
        dup = {sh for sh, ds in owner.items() if len(ds) >= 2}
        expected = {}
        text_of = dict(docs)
        for d, gs in grams.items():
            pos = [i + 1 for i, sh in enumerate(gs) if sh in dup]
            if not pos:
                continue
            dup_tokens = n + sum(min(p - q, n) for q, p in zip(pos, pos[1:]))
            spans = 1 + sum(1 for q, p in zip(pos, pos[1:]) if p - q > n)
            ntok = len(PY.tokens(text_of[d]))
            expected[d] = (ntok, spans, dup_tokens, dup_tokens * 1_000_000 // ntok)

        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r["doc_id"]: (r["total_tokens"], r["n_spans"], r["dup_tokens"], r["dup_ppm"])
            for r in repeated_span_profile(df, "doc_id", "text", n=n).collect()
        }
        assert got == expected and expected  # non-trivial corpus


class TestContainmentPairs:
    def test_subset_doc_detected_where_jaccard_misses(self, spark):
        """A short doc quoted verbatim inside a long one: containment of
        the short side ~1.0 while Jaccard is far below any useful
        threshold — the pair must surface with the correct direction."""
        from ayeaye_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

        quote = "alpha beta gamma delta epsilon zeta"
        filler = " ".join(f"filler{i} word{i} text{i}" for i in range(30))
        rows = [(1, quote), (2, filler + " " + quote + " " + filler),
                (3, "entirely unrelated content here throughout")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {(r["doc_id_a"], r["doc_id_b"]): (r["a_in_b_ppm"], r["b_in_a_ppm"])
               for r in containment_pairs(df, "doc_id", "text",
                                          min_containment_ppm=900_000).collect()}
        assert set(got) == {(1, 2)}
        a_in_b, b_in_a = got[(1, 2)]
        assert a_in_b == 1_000_000        # every shingle of 1 appears in 2
        assert b_in_a < 100_000           # the long side is mostly its own
        # and symmetric Jaccard at the same bar finds nothing
        jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
        assert jac == []

    def test_identical_docs_full_both_ways(self, spark):
        from ayeaye_spark.operators.dedup import containment_pairs

        df = spark.createDataFrame(
            [(1, "one two three four"), (2, "one two three four")],
            ["doc_id", "text"],
        )
        [r] = containment_pairs(df, "doc_id", "text").collect()
        assert (r["a_in_b_ppm"], r["b_in_a_ppm"]) == (1_000_000, 1_000_000)


class TestProductQuantization:
    def _toy(self, spark):
        # 2 well-separated 8-dim clusters, centroids FULL-RANK in every
        # sub-block (an all-zero sub-block makes that block's codes
        # meaningless — real codebooks come from k-means and never have
        # dead blocks): centroid 0 = +1s, centroid 1 = -1s
        import random

        rng = random.Random(7)
        rows = [(0, [1.0] * 8), (1, [-1.0] * 8)]
        for vid in range(2, 22):  # corpus: noisy copies alternating cluster
            sign = 1.0 if vid % 2 == 0 else -1.0
            rows.append((vid, [sign + rng.uniform(-0.05, 0.05) for _ in range(8)]))
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_codes_deterministic_and_centroid_self_code(self, spark):
        from ayeaye_spark.operators.similarity import pq_encode

        df = self._toy(spark)
        cents = df.where("vec_id < 2")
        codes = pq_encode(df, cents, m=2, dim=8)
        got = {(r["vec_id"], r["block"]): r["code"] for r in codes.collect()}
        # each centroid self-codes in both blocks; corpus follows its sign
        assert got[(0, 0)] == 0 and got[(0, 1)] == 0
        assert got[(1, 0)] == 1 and got[(1, 1)] == 1
        for vid in range(2, 22):
            want = 0 if vid % 2 == 0 else 1
            assert got[(vid, 0)] == want and got[(vid, 1)] == want
        # every vector got exactly m codes
        assert len(got) == 22 * 2

    def test_adc_topk_respects_clusters(self, spark):
        from pyspark.sql import functions as F

        from ayeaye_spark.operators.similarity import pq_topk

        df = self._toy(spark)
        out = pq_topk(
            df, df.where("vec_id IN (2, 3)"), df.where("vec_id < 2"),
            m=2, dim=8, k=3,
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        # neighbors of an even-id query are even-id (same cluster); odd, odd
        for q, ns in by_q.items():
            assert len(ns) == 3
            assert all(n % 2 == q % 2 for n in ns), (q, ns)
            assert q not in ns  # self excluded

    def test_search_plan_broadcasts_and_never_sorts(self, spark):
        from pyspark.sql import functions as F

        from ayeaye_spark.catalog import load
        from ayeaye_spark.operators.similarity import pq_topk

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        q = pq_topk(emb, emb.where(F.col("vec_id") < 10),
                    emb.where(F.col("vec_id") < 16))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan  # tiny sides all broadcast


class TestIvfPq:
    def test_ivfpq_respects_clusters_and_prunes_cells(self, spark):
        """Same two-cluster toy as PQ: coarse centroids = the cluster
        exemplars, PQ codebook over residuals.  With nprobe=1 each query
        sees ONLY its own cell's codes — neighbors must share the
        query's cluster, and the opposite cluster must be absent even
        from rank > k candidates (it was pruned, not outranked)."""
        import random

        from ayeaye_spark.operators.similarity import ivfpq_topk

        rng = random.Random(11)
        rows = [(0, [1.0] * 8), (1, [-1.0] * 8)]
        for vid in range(2, 22):
            sign = 1.0 if vid % 2 == 0 else -1.0
            rows.append((vid, [sign + rng.uniform(-0.05, 0.05) for _ in range(8)]))
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = ivfpq_topk(
            df, df.where("vec_id IN (2, 3)"),
            coarse=df.where("vec_id < 2"),
            codebook=df.where("vec_id < 2"),
            m=2, dim=8, nprobe=1, k=100,  # k > cell size: see the whole cell
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for q, ns in by_q.items():
            assert ns  # found something
            assert all(n % 2 == q % 2 for n in ns), (q, ns)  # pruned cell absent
            assert q not in ns


class TestGapfillInterpolate:
    def test_linear_fill_and_flat_edges(self, spark):
        import datetime as dt

        from ayeaye_spark.operators.relational import gapfill_interpolate

        t0 = dt.datetime(2024, 1, 1, 0)
        H = dt.timedelta(hours=1)
        # observed at hours 0, 3 (gap 1-2), 4; group b has one point
        rows = [
            ("a", t0, 10), ("a", t0 + 3 * H, 40), ("a", t0 + 4 * H, 7),
            ("b", t0 + 2 * H, 5),
        ]
        df = spark.createDataFrame(rows, ["g", "h", "n"])
        got = {
            (r["g"], r["h"].hour): (r["filled"], r["is_interpolated"])
            for r in gapfill_interpolate(
                df, ts_col="h", group_cols=["g"], value_col="n"
            ).collect()
        }
        assert got[("a", 0)] == (10.0, False)
        assert got[("a", 1)] == (20.0, True)   # 10 + (40-10) * 1/3
        assert got[("a", 2)] == (30.0, True)   # 10 + (40-10) * 2/3
        assert got[("a", 3)] == (40.0, False)
        assert got[("a", 4)] == (7.0, False)
        assert got[("b", 2)] == (5.0, False)   # single point: no grid growth
        assert len(got) == 6


class TestGapfillGuard:
    def test_oversized_grid_fails_loudly(self, spark):
        import datetime as dt

        import pytest as _pytest

        from ayeaye_spark.operators.relational import gapfill_interpolate

        rows = [("a", dt.datetime(2020, 1, 1), 1),
                ("a", dt.datetime(2024, 1, 1), 2)]
        df = spark.createDataFrame(rows, ["g", "h", "n"])
        out = gapfill_interpolate(
            df, ts_col="h", group_cols=["g"], value_col="n",
            step_seconds=1, max_grid_points=1000,  # 4y @ 1s >> 1000
        )
        with _pytest.raises(Exception, match="max_grid_points"):
            out.collect()


class TestContainmentShingleCap:
    def test_capped_candidates_keep_exact_values(self, spark):
        """max_shingle_df prunes hot shingles from candidate generation
        only: every pair still found must carry the EXACT full-set
        containment, and pairs sharing at least one rare shingle are
        retained."""
        from ayeaye_spark.operators.dedup import containment_pairs

        quote = "alpha beta gamma delta epsilon zeta"
        rows = [
            (1, quote),
            (2, "pad one two three " + quote + " four five six"),
            (3, "other content entirely unrelated to anything"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        uncapped = {
            (r["doc_id_a"], r["doc_id_b"]): (r["a_in_b_ppm"], r["b_in_a_ppm"])
            for r in containment_pairs(
                df, "doc_id", "text", min_containment_ppm=900_000
            ).collect()
        }
        capped = {
            (r["doc_id_a"], r["doc_id_b"]): (r["a_in_b_ppm"], r["b_in_a_ppm"])
            for r in containment_pairs(
                df, "doc_id", "text", min_containment_ppm=900_000,
                max_shingle_df=10,  # cap high enough to keep all shingles
            ).collect()
        }
        assert capped == uncapped == {(1, 2): uncapped[(1, 2)]}
        assert uncapped[(1, 2)][0] == 1_000_000


class TestSemanticDedup:
    """SemDeDup-style cluster-bucketed embedding dedup."""

    def _df(self, spark):
        # two well-separated clusters around e1 and e2; ids 0 and 2 are
        # the deterministic centroids (vec_id % 2 == 0 picks 0, 2, 4)
        rows = [
            (0, [1.0, 0.0]),       # centroid A
            (1, [0.999, 0.001]),   # near-dup of 0 (same cell)
            (2, [0.0, 1.0]),       # centroid B
            (3, [0.001, 0.999]),   # near-dup of 2 (same cell)
            (4, [0.7, 0.714]),     # between clusters, no near-dup at 0.999
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_pairs_within_cell_only(self, spark):
        df = self._df(spark)
        cents = df.where(F.col("vec_id").isin(0, 2))
        pairs = similarity.semantic_dedup_pairs(
            df, cents, threshold=0.999, dim=2
        ).collect()
        got = sorted((p["vec_id_a"], p["vec_id_b"]) for p in pairs)
        assert got == [(0, 1), (2, 3)]

    def test_survivors_keep_min_id(self, spark):
        df = self._df(spark)
        cents = df.where(F.col("vec_id").isin(0, 2))
        kept = sorted(
            r["vec_id"]
            for r in similarity.semantic_dedup_survivors(
                df, cents, threshold=0.999, dim=2
            ).collect()
        )
        assert kept == [0, 2, 4]

    def test_cross_cell_near_dup_is_unseen(self, spark):
        # the documented SemDeDup trade: a near-identical pair whose
        # members land in DIFFERENT cells is not reported
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.7072, 0.707]),   # assigned to cell of 0
            (3, [0.707, 0.7072]),   # assigned to cell of 1; ~identical to 2
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        cents = df.where(F.col("vec_id") < 2)
        pairs = similarity.semantic_dedup_pairs(
            df, cents, threshold=0.999, dim=2
        ).collect()
        assert [(p["vec_id_a"], p["vec_id_b"]) for p in pairs] == []


class TestMergeUpsert:
    def test_matched_updates_unmatched_inserts(self, spark):
        from ayeaye_spark.operators.scd import merge_upsert

        target = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
        )
        updates = spark.createDataFrame(
            [(2, "b2", 200), (9, "new", 900)], ["k", "name", "v"]
        )
        got = sorted(
            map(tuple, merge_upsert(target, updates, key="k").collect())
        )
        assert got == [(1, "a", 10), (2, "b2", 200), (3, "c", 30), (9, "new", 900)]

    def test_column_mismatch_rejected(self, spark):
        import pytest as _pt

        from ayeaye_spark.operators.scd import merge_upsert

        target = spark.createDataFrame([(1, "a")], ["k", "name"])
        updates = spark.createDataFrame([(1, 2)], ["k", "other"])
        with _pt.raises(ValueError, match="must match target"):
            merge_upsert(target, updates, key="k")


class TestSeededShuffle:
    def test_positions_are_exact_key_order(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(i,) for i in range(97)], ["id"])
        rows = sampling.seeded_shuffle(df, "id", seed="s1").collect()
        by_key = sorted(rows, key=lambda r: (r["shuffle_key"], r["id"]))
        assert [r["shuffle_pos"] for r in by_key] == list(range(1, 98))

    def test_seed_changes_permutation_reproducibly(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(i,) for i in range(50)], ["id"])
        a1 = {r["id"]: r["shuffle_pos"]
              for r in sampling.seeded_shuffle(df, "id", seed="a").collect()}
        a2 = {r["id"]: r["shuffle_pos"]
              for r in sampling.seeded_shuffle(df, "id", seed="a").collect()}
        b = {r["id"]: r["shuffle_pos"]
             for r in sampling.seeded_shuffle(df, "id", seed="b").collect()}
        assert a1 == a2
        assert a1 != b


class TestDomainMix:
    def test_weights_respected_no_upsampling(self, spark):
        from ayeaye_spark.operators import sampling

        # srcA supplies 100 tokens, srcB 1000: with 50/50 weights the
        # feasible total is 200 → each side keeps exactly 100 tokens
        rows = [(i, "A", 10) for i in range(10)] + [
            (100 + i, "B", 10) for i in range(100)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "source", "toks"])
        kept = sampling.domain_mix_budget(
            df, group_col="source", id_col="doc_id", token_col="toks",
            weights={"A": 500, "B": 500},
        ).collect()
        per = {}
        for r in kept:
            per.setdefault(r["source"], []).append(r["doc_id"])
        assert sorted(per["A"]) == list(range(10))
        assert sorted(per["B"]) == list(range(100, 110))  # greedy id-order prefix

    def test_unlisted_sources_dropped(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "A", 5), (2, "Z", 5)], ["doc_id", "source", "toks"]
        )
        kept = sampling.domain_mix_budget(
            df, group_col="source", id_col="doc_id", token_col="toks",
            weights={"A": 1000},
        ).collect()
        assert [r["doc_id"] for r in kept] == [1]


class TestGopherFlags:
    def test_rules_flag_bad_docs(self, spark):
        from ayeaye_spark.operators import text as textops

        good = "the quick brown fox jumps over a lazy dog and " * 6  # 60 words, stopwords
        bullets = "\n".join("- item one two three four five six seven" for _ in range(10))
        short = "too short"
        symbols = "the of " + "# " * 60
        df = spark.createDataFrame(
            [(1, good), (2, bullets), (3, short), (4, symbols)],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in
                textops.with_gopher_flags(df, "text").collect()}
        assert rows[1]["gopher_pass"] is True
        assert rows[2]["gopher_pass"] is False          # 100% bullet lines
        assert rows[2]["bullet_ppm"] == 1_000_000
        assert rows[3]["gopher_pass"] is False          # word count < 50
        assert rows[4]["gopher_pass"] is False          # symbol ratio > 10%
        assert rows[4]["symbol_ppm"] > 100_000

    def test_ellipsis_rule(self, spark):
        from ayeaye_spark.operators import text as textops

        doc = "\n".join(
            ["the cat sat on a mat and looked far away..."] * 4
            + ["a plain line of text for balance"] * 6
        )
        row = textops.with_gopher_flags(
            spark.createDataFrame([(1, doc)], ["doc_id", "text"]), "text"
        ).collect()[0]
        assert row["ellipsis_ppm"] == 400_000  # 4 of 10 lines


class TestChunkDocuments:
    def test_chunks_cover_with_overlap(self, spark):
        from ayeaye_spark.operators import text as textops

        words = " ".join(f"w{i}" for i in range(85))  # 85 tokens
        df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
        rows = sorted(
            textops.chunk_documents(df, "doc_id", "text", chunk=32, step=24).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # 85 tokens -> starts 0,24,48,72: sizes 32,32,32,13 (remainder)
        assert [r["n_tokens"] for r in rows] == [32, 32, 32, 13]
        assert rows[0]["chunk_text"].startswith("w0 ")
        assert rows[1]["chunk_text"].startswith("w24 ")
        assert rows[3]["chunk_text"] == " ".join(f"w{i}" for i in range(72, 85))

    def test_exact_cover_has_no_redundant_tail(self, spark):
        from ayeaye_spark.operators import text as textops

        # 80 tokens: start 48 reaches exactly 80, so no 4th chunk
        words = " ".join(f"w{i}" for i in range(80))
        df = spark.createDataFrame([(1, words)], ["doc_id", "text"])
        rows = textops.chunk_documents(df, "doc_id", "text", chunk=32, step=24).collect()
        assert sorted(r["n_tokens"] for r in rows) == [32, 32, 32]

    def test_short_and_empty_docs_get_one_chunk(self, spark):
        from ayeaye_spark.operators import text as textops

        df = spark.createDataFrame([(1, "only three words"), (2, "")],
                                   ["doc_id", "text"])
        rows = {(r["doc_id"], r["chunk_idx"]): r for r in
                textops.chunk_documents(df, "doc_id", "text").collect()}
        assert rows[(1, 0)]["n_tokens"] == 3
        assert rows[(2, 0)]["n_tokens"] == 0
        assert rows[(2, 0)]["chunk_text"] == ""
        assert len(rows) == 2

    def test_invalid_step_rejected(self, spark):
        import pytest as _pt

        from ayeaye_spark.operators import text as textops

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with _pt.raises(ValueError, match="step"):
            textops.chunk_documents(df, "doc_id", "text", chunk=8, step=9)


class TestEventPaths:
    def test_order_is_exact_and_partition_independent(self, spark):
        import datetime as dt

        rows = [
            (1, dt.datetime(2024, 1, 1, 9), 3, "c"),
            (1, dt.datetime(2024, 1, 1, 8), 1, "a"),
            (1, dt.datetime(2024, 1, 1, 8), 2, "b"),   # same ts: id breaks tie
            (2, dt.datetime(2024, 1, 1, 8), 4, "x"),
        ]
        df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "etype"])
        for parts in (1, 7):
            got = {
                r["user_id"]: r["path"]
                for r in relational.event_paths(
                    df.repartition(parts),
                    group_cols=["user_id"],
                    order_cols=["ts", "event_id"],
                    value_col="etype",
                ).collect()
            }
            assert got == {1: "a,b,c", 2: "x"}


class TestMergeUpsertSeededCrossCheck:
    def test_matches_python_reference_on_random_batches(self, spark):
        import random

        from ayeaye_spark.operators.scd import merge_upsert

        rng = random.Random(1234)
        for trial in range(3):
            tgt = {k: (k, f"n{k}", rng.randint(0, 99))
                   for k in rng.sample(range(50), rng.randint(5, 30))}
            upd_keys = rng.sample(range(60), rng.randint(1, 20))
            upd = {k: (k, f"u{k}", rng.randint(100, 199)) for k in upd_keys}
            expect = sorted({**tgt, **upd}.values())

            target = spark.createDataFrame(list(tgt.values()), ["k", "name", "v"])
            updates = spark.createDataFrame(list(upd.values()), ["k", "name", "v"])
            got = sorted(map(tuple, merge_upsert(target, updates, key="k").collect()))
            assert got == expect, f"trial {trial}"


class TestExpectationReport:
    def test_counts_violations_in_one_pass(self, spark):
        from ayeaye_spark.plans.checks import expectation_report

        df = spark.createDataFrame(
            [(1, 10), (2, -5), (None, 3), (4, None)], ["k", "v"]
        )
        got = {r["rule"]: r["n_violations"] for r in expectation_report(
            df, {"k_not_null": "k IS NOT NULL", "v_positive": "v > 0"}
        ).collect()}
        # NULL predicate result counts as a violation (v > NULL)
        assert got == {"k_not_null": 1, "v_positive": 2}

    def test_single_scan_plan(self, spark):
        from ayeaye_spark.catalog import load
        from ayeaye_spark.plans.checks import expectation_report
        from tests.conftest import SF_SMALL

        plan = expectation_report(
            load(spark, SF_SMALL, "orders"),
            {"a": "o_orderkey IS NOT NULL", "b": "o_totalprice > 0"},
        )._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1


class TestTableDiff:
    def test_added_removed_changed_and_null_safety(self, spark):
        old = spark.createDataFrame(
            [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
            ["k", "name", "v"],
        )
        new = spark.createDataFrame(
            [(1, "a", 10),        # unchanged -> dropped
             (2, "b", 20),        # NULL -> value = changed
             (3, "c", None),      # value -> NULL = changed
             (5, "e", 50)],       # added; 4 removed
            ["k", "name", "v"],
        )
        got = sorted(
            (r["k"], r["change_type"])
            for r in relational.table_diff(
                old, new, key="k", compare_cols=["name", "v"]
            ).collect()
        )
        assert got == [(2, "changed"), (3, "changed"), (4, "removed"), (5, "added")]


class TestCompaction:
    def test_fragmented_dir_compacts_preserving_rows(self, spark, tmp_path):
        import glob

        from ayeaye_spark.operators.maintenance import compact_parquet

        path = str(tmp_path / "frag")
        df = spark.range(10_000).withColumn("v", F.col("id") % 97)
        df.repartition(40).write.parquet(path)   # 40 small files
        before = len(glob.glob(f"{path}/*.parquet"))
        assert before >= 40

        out = compact_parquet(spark, path, target_file_mb=128)
        after = len(glob.glob(f"{path}/*.parquet"))
        assert after < before and after >= 1
        assert out.count() == 10_000
        assert spark.read.parquet(path).agg(F.sum("id")).first()[0] == \
            sum(range(10_000))

    def test_sorted_compaction_restores_clustering(self, spark, tmp_path):
        import glob

        import pyarrow.parquet as pq

        from ayeaye_spark.operators.maintenance import compact_parquet

        path = str(tmp_path / "frag2")
        spark.range(50_000).withColumn("k", (F.col("id") * 37) % 1000) \
            .withColumn("pad", F.expr("repeat(uuid(), 4)")) \
            .repartition(20).write.parquet(path)
        compact_parquet(spark, path, target_file_mb=1, sort_cols=["k"])
        ranges = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            stats = [md.row_group(rg).column(i).statistics
                     for rg in range(md.num_row_groups)
                     for i in range(md.row_group(rg).num_columns)
                     if md.row_group(rg).column(i).path_in_schema == "k"]
            if stats:
                ranges.append((min(s.min for s in stats),
                               max(s.max for s in stats)))
        assert len(ranges) > 1
        ranges.sort()
        for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2   # non-overlapping envelopes restored

    def test_hadoop_fs_api_with_explicit_scheme(self, spark, tmp_path):
        """compact_parquet sizes and swaps via the Hadoop FileSystem API
        — an explicit ``file://`` URI must work end-to-end (the same
        code path any other registered scheme takes), with the file
        count pinned to ceil(bytes/target)."""
        import glob
        import math

        from ayeaye_spark.operators.maintenance import compact_parquet, dir_bytes

        local = tmp_path / "frag3"
        path = f"file://{local}"
        spark.range(20_000).withColumn("pad", F.expr("repeat(uuid(), 8)")) \
            .repartition(25).write.parquet(path)
        nbytes = dir_bytes(spark, path)
        assert nbytes > 0
        expected_files = max(1, math.ceil(nbytes / (1 * 1024 * 1024)))

        out = compact_parquet(spark, path, target_file_mb=1)
        assert out.count() == 20_000
        got_files = len(glob.glob(f"{local}/*.parquet"))
        assert got_files == expected_files
        # staging and backup must both be gone after a clean swap
        assert not glob.glob(f"{local}._compact_*")
        assert not glob.glob(f"{local}._swap_*")


class TestHashedLinearScore:
    def test_custom_weights_drive_keep_decision(self, spark):
        from ayeaye_spark.operators import text as textops

        df = spark.createDataFrame(
            [(1, "good good good"), (2, "bad bad"), (3, "good bad")],
            ["doc_id", "text"],
        )
        from ayeaye_spark.functions import portable_py as PY

        good_wid = PY.char_hash("good") % 8
        bad_wid = PY.char_hash("bad") % 8
        assert good_wid != bad_wid  # fixture sanity
        weights = spark.createDataFrame(
            [(good_wid, 10), (bad_wid, -10)]
            + [(i, 0) for i in range(8) if i not in (good_wid, bad_wid)],
            ["wid", "w"],
        )
        rows = {r["doc_id"]: r for r in textops.hashed_linear_score(
            df, "doc_id", "text", dim=8, weights=weights
        ).collect()}
        assert rows[1]["keep"] is True and rows[1]["score_total"] == 30
        assert rows[2]["keep"] is False and rows[2]["score_total"] == -20
        assert rows[3]["keep"] is False and rows[3]["score_total"] == 0

    def test_broadcast_join_in_plan(self, spark):
        from ayeaye_spark.catalog import load
        from ayeaye_spark.operators import text as textops
        from tests.conftest import SF_SMALL

        plan = textops.hashed_linear_score(
            load(spark, SF_SMALL, "documents"), "doc_id", "text"
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestSystematicWeightedSample:
    def test_proportional_and_deterministic(self, spark):
        from ayeaye_spark.operators import sampling

        # one heavy row among light ones: weight 1000 vs 100x weight 10
        rows = [(0, 1000)] + [(i, 10) for i in range(1, 101)]
        df = spark.createDataFrame(rows, ["id", "w"])
        out = {r["id"]: r["n_hits"] for r in
               sampling.systematic_weighted_sample(
                   df, id_col="id", weight_col="w", n=10
               ).collect()}
        # total W = 2000, stride 200: the weight-1000 row spans 5 targets
        assert out[0] == 5
        assert sum(out.values()) == 10
        # repartitioning must not change the selection
        out2 = {r["id"]: r["n_hits"] for r in
                sampling.systematic_weighted_sample(
                    df.repartition(7), id_col="id", weight_col="w", n=10
                ).collect()}
        assert out2 == out

    def test_rejects_nonpositive_n(self, spark):
        import pytest as _pt

        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(1, 1)], ["id", "w"])
        with _pt.raises(ValueError):
            sampling.systematic_weighted_sample(
                df, id_col="id", weight_col="w", n=0)


class TestGroupedRankExact:
    def test_matches_naive_window(self, spark):
        from pyspark.sql import Window

        rows = [(i, f"g{i % 3}", (i * 7) % 20) for i in range(300)]
        df = spark.createDataFrame(rows, ["id", "grp", "v"])
        w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
        wn = Window.partitionBy("grp")
        want = {
            r["id"]: (r["rk"], r["n"])
            for r in df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .collect()
        }
        got = {
            r["id"]: (r["rk"], r["n"])
            for r in relational.grouped_rank_exact(df, "grp", "v", "id").collect()
        }
        assert got == want

    def test_partitioning_invariant(self, spark):
        rows = [(i, "g", (i * 13) % 11) for i in range(200)]
        df = spark.createDataFrame(rows, ["id", "grp", "v"])
        a = {r["id"]: r["rk"]
             for r in relational.grouped_rank_exact(df, "grp", "v", "id").collect()}
        b = {r["id"]: r["rk"]
             for r in relational.grouped_rank_exact(
                 df.repartition(7), "grp", "v", "id").collect()}
        assert a == b


class TestNtileSummary:
    def test_matches_naive_ntile(self, spark):
        from pyspark.sql import Window

        for nrows, tiles in [(97, 10), (100, 10), (5, 10), (64, 7)]:
            rows = [(i, (i * 11) % 13 + 1) for i in range(nrows)]
            df = spark.createDataFrame(rows, ["uid", "v"])
            w = Window.partitionBy(F.lit(1)).orderBy(F.desc("v"), F.asc("uid"))
            want = {
                r["tile"]: (r["n_rows"], r["total"], r["mn"], r["mx"])
                for r in df.withColumn("tile", F.ntile(tiles).over(w))
                .groupBy("tile")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("v").alias("total"),
                    F.min("v").alias("mn"),
                    F.max("v").alias("mx"),
                )
                .collect()
            }
            got = {
                r["tile"]: (r["n_rows"], r["total"], r["min_value"], r["max_value"])
                for r in relational.ntile_summary(
                    df, "v", n_tiles=tiles, descending=True
                ).collect()
            }
            assert got == want, f"nrows={nrows} tiles={tiles}"


class TestTopKPerGroupScalable:
    def test_matches_window_form(self, spark):
        rows = [(i, f"s{i % 4}", float((i * 17) % 50)) for i in range(400)]
        df = spark.createDataFrame(rows, ["id", "seg", "price"])
        # reference: per group, price desc then id asc, first 5 ranked 1..5
        ordered = sorted(rows, key=lambda r: (r[1], -r[2], r[0]))
        want, rank = [], {}
        for i, seg, _ in ordered:
            rank[seg] = rank.get(seg, 0) + 1
            if rank[seg] <= 5:
                want.append((seg, i, rank[seg]))
        want.sort()
        got = sorted(
            (r["seg"], r["id"], r["rank"])
            for r in relational.top_k_per_group_scalable(
                df.repartition(9), ["seg"], "price", 5, tiebreak_cols=["id"]
            ).collect()
        )
        assert got == want


class TestMergeUpsertValidate:
    def test_duplicate_update_keys_raise(self, spark):
        import pytest as _pt

        from ayeaye_spark.operators.scd import merge_upsert

        tgt = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        upd = spark.createDataFrame([(2, "x"), (2, "y")], ["k", "v"])
        # silent by default (contract documented) ...
        assert merge_upsert(tgt, upd, key="k").count() == 3
        # ... loud when enforced
        with _pt.raises(ValueError, match="duplicate update keys"):
            merge_upsert(tgt, upd, key="k", validate=True)

    def test_validate_passes_unique_updates(self, spark):
        from ayeaye_spark.operators.scd import merge_upsert

        tgt = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        upd = spark.createDataFrame([(2, "x"), (3, "c")], ["k", "v"])
        got = {(r["k"], r["v"]) for r in
               merge_upsert(tgt, upd, key="k", validate=True).collect()}
        assert got == {(1, "a"), (2, "x"), (3, "c")}


class TestDomainMixZeroSupply:
    def test_zero_supply_group_drops_out(self, spark):
        """A weighted group with NO rows must not zero the whole mix —
        it drops out of the feasibility min exactly like the
        docs_domain_mix oracle's supply join drops absent sources."""
        from ayeaye_spark.operators import sampling

        rows = [(i, "a", 10) for i in range(50)] + [
            (1000 + i, "b", 10) for i in range(50)
        ]
        df = spark.createDataFrame(rows, ["id", "src", "toks"])
        out = sampling.domain_mix_budget(
            df, group_col="src", id_col="id", token_col="toks",
            weights={"a": 500, "b": 300, "ghost": 200},
        )
        got = out.groupBy("src").count().collect()
        counts = {r["src"]: r["count"] for r in got}
        # supplies: a=500, b=500; W=1000; constraints: a: 500*1000//500=1000,
        # b: 500*1000//300=1666 -> B=1000; budgets: a=500 (50 docs),
        # b=300 (30 docs), ghost=200 (no rows)
        assert counts == {"a": 50, "b": 30}

    def test_all_groups_empty_yields_empty(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([(1, "x", 5)], ["id", "src", "toks"])
        out = sampling.domain_mix_budget(
            df, group_col="src", id_col="id", token_col="toks",
            weights={"ghost": 1000},
        )
        assert out.count() == 0


class TestWithNtile:
    def test_matches_naive_ntile_window(self, spark):
        from pyspark.sql import Window

        for nrows, tiles in [(97, 10), (30, 7), (6, 10)]:
            rows = [(i, f"g{i % 3}", float((i * 7) % 23) + 0.5) for i in range(nrows)]
            df = spark.createDataFrame(rows, ["id", "grp", "v"])
            w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
            want = {
                r["id"]: r["t"]
                for r in df.withColumn("t", F.ntile(tiles).over(w)).collect()
            }
            got = {
                r["id"]: r["tile"]
                for r in relational.with_ntile(
                    df, "grp", "v", "id", n_tiles=tiles,
                    bucket_expr=F.floor(F.col("v")).cast("long"),
                ).collect()
            }
            assert got == want, f"nrows={nrows} tiles={tiles}"

    def test_bucketed_matches_exact_rank(self, spark):
        import pytest as _pt
        from pyspark.sql import Window

        rows = [(i, "g", float((i * 13) % 50) / 3.0) for i in range(500)]
        df = spark.createDataFrame(rows, ["id", "grp", "v"])
        w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
        exact = {
            r["id"]: r["rk"]
            for r in df.withColumn("rk", F.row_number().over(w)).collect()
        }
        coarse = {r["id"]: r["rk"] for r in relational.grouped_rank_exact(
            df, "grp", "v", "id",
            bucket_expr=F.floor(F.col("v")).cast("long")).collect()}
        assert coarse == exact

    def test_float_value_without_bucket_expr_is_guarded(self, spark):
        """The default exact-value histogram on a floating-point column
        would hold ~one row per distinct value (corpus-sized histogram,
        single-task per-group window) — must refuse loudly."""
        import pytest as _pt

        df = spark.createDataFrame(
            [(1, "g", 1.5), (2, "g", 2.5)], ["id", "grp", "v"]
        )
        with _pt.raises(ValueError, match="coarsening"):
            relational.grouped_rank_exact(df, "grp", "v", "id")


class TestNtileClosedFormExhaustive:
    def test_every_group_size_1_to_60(self, spark):
        """One frame, one action: groups of every size 1..60 (tie-heavy
        values), with_ntile must equal F.ntile for t in {3, 10} on all
        of them — exhaustive over the q/r edge cases (n<t, n=t, n%t=0,
        n%t!=0) rather than sampled."""
        from pyspark.sql import Window

        rows = []
        for size in range(1, 61):
            for i in range(size):
                rows.append((f"g{size}", i, (i * 5) % 7))  # heavy ties
        df = spark.createDataFrame(rows, ["grp", "id", "v"])
        for tiles in (3, 10):
            w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
            want = {
                (r["grp"], r["id"]): r["t"]
                for r in df.withColumn("t", F.ntile(tiles).over(w)).collect()
            }
            got = {
                (r["grp"], r["id"]): r["tile"]
                for r in relational.with_ntile(
                    df, "grp", "v", "id", n_tiles=tiles
                ).collect()
            }
            assert got == want, f"tiles={tiles}"


class TestGroupedRankRandomizedCrossCheck:
    def test_random_ties_and_buckets(self, spark):
        """Randomized (seeded) corpora with heavy ties: histogram rank
        with a coarse bucket must equal the naive window rank exactly,
        independent of physical partitioning."""
        import random

        from pyspark.sql import Window

        for seed in (11, 23):
            rng = random.Random(seed)
            rows = [
                (i, f"g{rng.randrange(3)}", rng.randrange(40) / 3.0)
                for i in range(600)
            ]
            df = spark.createDataFrame(rows, ["id", "grp", "v"]).repartition(7)
            w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
            want = {
                r["id"]: r["rk"]
                for r in df.withColumn("rk", F.row_number().over(w)).collect()
            }
            got = {
                r["id"]: r["rk"]
                for r in relational.grouped_rank_exact(
                    df, "grp", "v", "id",
                    bucket_expr=F.floor(F.col("v")).cast("long"),
                ).collect()
            }
            assert got == want, f"seed={seed}"


class TestGroupedRankTieSplit:
    def test_tie_mass_split_matches_naive(self, spark):
        """A degenerate corpus where 80% of one group shares ONE value:
        the tie-split plan must still equal the naive window exactly."""
        from pyspark.sql import Window

        rows = [(i, "g", 100) for i in range(400)] + [
            (1000 + i, "g", (i % 7) * 10) for i in range(100)
        ] + [(2000 + i, "h", 100) for i in range(50)]
        df = spark.createDataFrame(rows, ["id", "grp", "v"]).repartition(9)
        w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
        want = {r["id"]: r["rk"] for r in
                df.withColumn("rk", F.row_number().over(w)).collect()}
        got = {r["id"]: r["rk"] for r in relational.grouped_rank_exact(
            df, "grp", "v", "id",
            tie_bucket_expr=F.expr("id div 64"),
        ).collect()}
        assert got == want

    def test_tie_split_rejects_coarse_buckets(self, spark):
        import pytest as _pt

        df = spark.createDataFrame([(1, "g", 1.5)], ["id", "grp", "v"])
        with _pt.raises(ValueError, match="exact-value histogram"):
            relational.grouped_rank_exact(
                df, "grp", "v", "id",
                bucket_expr=F.floor(F.col("v")),
                tie_bucket_expr=F.expr("id div 64"),
            )

    def test_tie_split_plan_has_no_whole_value_window(self, spark):
        """With the tie split, no row_number window is keyed by
        (group, value) alone — the rank window carries the id-bucket."""
        import re

        rows = [(i, "g", 100) for i in range(500)]
        df = spark.createDataFrame(rows, ["id", "grp", "v"])
        q = relational.grouped_rank_exact(
            df, "grp", "v", "id", tie_bucket_expr=F.expr("id div 64"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]+)\)", plan)
        assert rn_specs
        for spec in rn_specs:
            assert "_tb" in spec, spec


class TestBandedNearDup:
    def test_recall_vs_exact_and_precision_one(self, spark):
        """On the test embeddings: every banded pair must appear in the
        exact pair set with the identical cosine (precision 1.0 — pairs
        are exact-verified), and recall must clear the banding math's
        floor for this threshold."""
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        exact = {(r["vec_id_a"], r["vec_id_b"]): r["cosine"]
                 for r in similarity.embedding_near_dup_pairs_vectorized(
                     emb, threshold=0.4).collect()}
        # 0.4 is a LOW threshold (angles to 66 deg): configure the
        # knobs for that regime — fewer planes per band (wider
        # buckets), more bands (recall amplification); the defaults
        # target the near-dup regime (>=0.9), tested below
        banded = {(r["vec_id_a"], r["vec_id_b"]): r["cosine"]
                  for r in similarity.embedding_near_dup_pairs_banded(
                      emb, threshold=0.4, bands=10, planes_per_band=4
                  ).collect()}
        assert banded, "banded path found no pairs"
        for pair, cos in banded.items():
            assert pair in exact and exact[pair] == cos  # precision 1.0
        recall = len(banded) / len(exact)
        assert recall >= 0.5, f"recall {recall:.2f}"

    def test_high_threshold_recall_and_determinism(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        base = rng.standard_normal((40, 16))
        rows = []
        for i, v in enumerate(base):
            rows.append((2 * i, [float(x) for x in v]))
            rows.append((2 * i + 1, [float(x) for x in v + 0.02 * rng.standard_normal(16)]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {(r["vec_id_a"], r["vec_id_b"])
                 for r in similarity.embedding_near_dup_pairs_vectorized(
                     df, threshold=0.95).collect()}
        banded = {(r["vec_id_a"], r["vec_id_b"])
                  for r in similarity.embedding_near_dup_pairs_banded(
                      df, threshold=0.95).collect()}
        assert banded <= exact
        assert len(banded) / len(exact) >= 0.8  # near-dup regime recall
        again = {(r["vec_id_a"], r["vec_id_b"])
                 for r in similarity.embedding_near_dup_pairs_banded(
                     df.repartition(7), threshold=0.95).collect()}
        assert again == banded  # partitioning-independent

    def test_mega_bucket_cap_drops_degenerate_buckets(self, spark):
        rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        capped = similarity.embedding_near_dup_pairs_banded(
            df, threshold=0.99, max_bucket_size=10).collect()
        assert capped == []  # every bucket over the cap -> dropped
        uncapped = similarity.embedding_near_dup_pairs_banded(
            df, threshold=0.99, max_bucket_size=None).collect()
        assert len(uncapped) == 50 * 49 // 2


class TestGroupedRankNulls:
    def test_null_values_rank_nulls_first(self, spark):
        """NULL values (and a NULL group) must rank exactly like the
        naive window's ASC NULLS FIRST — not drop out of the join."""
        from pyspark.sql import Window

        rows = [
            (1, "g", 5), (2, "g", None), (3, "g", 1), (4, "g", None),
            (5, None, 2), (6, None, None),
        ]
        df = spark.createDataFrame(rows, "id long, grp string, v long")
        w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
        wn = Window.partitionBy("grp")
        want = {
            r["id"]: (r["rk"], r["n"])
            for r in df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .collect()
        }
        got = {
            r["id"]: (r["rk"], r["n"])
            for r in relational.grouped_rank_exact(df, "grp", "v", "id").collect()
        }
        assert got == want

    def test_null_values_with_tie_split(self, spark):
        from pyspark.sql import Window

        rows = [(i, "g", None if i % 3 == 0 else i % 2) for i in range(60)]
        df = spark.createDataFrame(rows, "id long, grp string, v long")
        w = Window.partitionBy("grp").orderBy(F.asc("v"), F.asc("id"))
        want = {r["id"]: r["rk"] for r in
                df.withColumn("rk", F.row_number().over(w)).collect()}
        got = {r["id"]: r["rk"] for r in relational.grouped_rank_exact(
            df, "grp", "v", "id", tie_bucket_expr=F.expr("id div 8")
        ).collect()}
        assert got == want


class TestKcenterCoreset:
    def test_matches_numpy_greedy_reference(self, spark):
        """Exact pick-set AND pick-order parity with a straightforward
        numpy greedy k-center using the same rules (min-id seed, argmin
        max-cos, ties to min id)."""
        import numpy as np

        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(40, 8)).round(3)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = [(r["vec_id"], r["center_rank"])
               for r in similarity.kcenter_coreset(df, k=6)
               .orderBy("center_rank").collect()]

        norms = np.sqrt((vecs ** 2).sum(axis=1))
        unit = vecs / norms[:, None]
        chosen = [0]
        for _ in range(5):
            maxcos = (unit @ unit[chosen].T).max(axis=1)
            best = np.flatnonzero(maxcos == maxcos.min())[0]  # first = min id
            chosen.append(int(best))
        assert got == [(i, r) for r, i in enumerate(chosen)]

    def test_zero_vector_never_picked_and_k1(self, spark):
        """Zero-norm rows score maxcos 1.0 so greedy rounds skip them
        (the min-id SEED is unconditional — use a non-zero min id)."""
        rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0]),
                (4, [-1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"] for r in similarity.kcenter_coreset(df, k=3).collect()}
        assert 2 not in got and len(got) == 3
        only = similarity.kcenter_coreset(df, k=1).collect()
        assert [(r["vec_id"], r["center_rank"]) for r in only] == [(1, 0)]

    def test_string_ids_roundtrip(self, spark):
        """Round-6 advice: the output schema was hardcoded `long` and
        crashed createDataFrame for string ids — it now derives from
        the captured id field."""
        rows = [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [-1.0, 0.0])]
        df = spark.createDataFrame(rows, "doc string, embedding array<double>")
        got = similarity.kcenter_coreset(df, id_col="doc", k=2)
        assert dict(got.dtypes) == {"doc": "string", "center_rank": "int"}
        picks = [(r["doc"], r["center_rank"])
                 for r in got.orderBy("center_rank").collect()]
        assert picks[0] == ("a", 0) and len(picks) == 2

    def test_no_duplicate_picks_when_k_exceeds_distinct(self, spark):
        """Round-6 advice: once every remaining max-cos is 1.0
        (duplicate vectors), the argmin could re-pick an already-chosen
        id.  Chosen ids are now excluded per round and an exhausted
        corpus stops early."""
        rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0]),
                (4, [0.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = [r["vec_id"] for r in
               similarity.kcenter_coreset(df, k=4).orderBy("center_rank").collect()]
        assert len(got) == len(set(got)) == 4
        # k beyond the corpus: fewer rows, still all distinct
        over = [r["vec_id"] for r in
                similarity.kcenter_coreset(df, k=9).orderBy("center_rank").collect()]
        assert len(over) == len(set(over)) == 4


class TestPcaEmbeddings:
    def test_numpy_parity_and_partition_invariance(self, spark):
        """Projection matches a straight numpy PCA using the same
        conventions (covariance with n-1, eigh, descending eigenvalues,
        largest-|coord|-positive sign), and is bit-identical under a
        different partitioning (the exact-decimal moment sums are the
        mechanism)."""
        import numpy as np

        rng = np.random.default_rng(3)
        base = rng.normal(size=(60, 6))
        base[:, 0] *= 5.0  # a dominant direction to find
        rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["pc"] for r in
               similarity.pca_embeddings(df, k=3).collect()}

        x = np.array([[np.float32(v) for v in r[1]] for r in rows],
                     dtype=np.float64)
        mu = x.mean(axis=0)
        cov = (x - mu).T @ (x - mu) / (len(x) - 1)
        evals, evecs = np.linalg.eigh(cov)
        w = evecs[:, np.argsort(evals)[::-1][:3]]
        for m in range(3):
            j = int(np.abs(w[:, m]).argmax())
            if w[j, m] < 0:
                w[:, m] = -w[:, m]
        ref = (x - mu) @ w
        for i in range(60):
            assert np.allclose(got[i], ref[i], atol=1e-9), i
        # PC0 carries the scaled axis
        assert np.var([got[i][0] for i in range(60)]) > \
            np.var([got[i][1] for i in range(60)])

        got13 = {r["vec_id"]: r["pc"] for r in similarity.pca_embeddings(
            df.repartition(13), k=3).collect()}
        assert all(got[i] == got13[i] for i in range(60))

    def test_ragged_vector_raises(self, spark):
        """A row shorter than the probed width d must raise, not
        silently drop NULL products from the moment sums (round-7
        advice: the skewed-covariance failure mode)."""
        import pytest as _pytest

        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0]), (2, [7.0, 8.0])],
            "vec_id long, embedding array<double>",
        )
        with _pytest.raises(Exception, match="coordinates, expected 3"):
            similarity.pca_embeddings(df, k=2).collect()


class TestKmeansEmbeddings:
    def test_deterministic_and_partitioning_invariant(self, spark):
        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings")
        a = {r["vec_id"]: r["cluster"] for r in
             similarity.kmeans_embeddings(emb, k=5, iters=3).collect()}
        b = {r["vec_id"]: r["cluster"] for r in
             similarity.kmeans_embeddings(emb.repartition(7), k=5, iters=3).collect()}
        assert a == b
        assert len(set(a.values())) > 1  # actually clusters

    def test_separated_clusters_recovered(self, spark):
        import numpy as np

        rng = np.random.default_rng(5)
        centers = np.eye(4)  # 4 orthogonal directions
        rows = []
        for i in range(200):
            c = i % 4
            v = centers[c] + 0.05 * rng.standard_normal(4)
            rows.append((i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r["cluster"] for r in
               similarity.kmeans_embeddings(df, k=4, iters=4).collect()}
        # perfect recovery: cluster label is a pure function of i % 4
        label_of = {}
        for i, cl in got.items():
            truth = i % 4
            assert label_of.setdefault(truth, cl) == cl, f"split cluster {truth}"
        assert len(set(label_of.values())) == 4  # and no two merged

    def test_rejects_bad_params(self, spark):
        import pytest as _pt

        df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<double>")
        with _pt.raises(ValueError):
            similarity.kmeans_embeddings(df, k=0)
        with _pt.raises(ValueError):
            similarity.kmeans_embeddings(df, k=2, iters=0)


class TestVersionedPublish:
    def test_publish_read_and_prune(self, spark, tmp_path):
        from ayeaye_spark.operators.maintenance import (
            read_published, versioned_publish,
        )

        table = f"file://{tmp_path}/tbl"
        v0 = versioned_publish(spark, table, spark.range(10))
        assert v0 == 0
        assert read_published(spark, table).count() == 10

        v1 = versioned_publish(spark, table, spark.range(25))
        assert v1 == 1
        assert read_published(spark, table).count() == 25
        # keep_versions=2: v=0 retained for in-flight readers
        assert spark.read.parquet(f"{table}/v=0").count() == 10

        v2 = versioned_publish(spark, table, spark.range(7))
        v3 = versioned_publish(spark, table, spark.range(3))
        assert (v2, v3) == (2, 3)
        assert read_published(spark, table).count() == 3
        # keep_versions=2 OLD versions retained beside the current one;
        # v=0 pruned AFTER the pointer moved past it
        import glob

        local = str(tmp_path / "tbl")
        dirs = sorted(p.split("v=")[1] for p in glob.glob(f"{local}/v=*"))
        assert dirs == ["1", "2", "3"]

    def test_reader_snapshot_is_stable_across_publish(self, spark, tmp_path):
        from ayeaye_spark.operators.maintenance import (
            read_published, versioned_publish,
        )

        table = f"file://{tmp_path}/tbl2"
        versioned_publish(spark, table, spark.range(100))
        snapshot = read_published(spark, table)  # resolved to v=0
        versioned_publish(spark, table, spark.range(1))
        # the in-flight reader's frame still scans its own version
        assert snapshot.count() == 100
        assert read_published(spark, table).count() == 1

    def test_read_unpublished_raises(self, spark, tmp_path):
        import pytest as _pt

        from ayeaye_spark.operators.maintenance import read_published

        with _pt.raises(FileNotFoundError):
            read_published(spark, f"file://{tmp_path}/nope")

    def test_concurrent_publishers_claim_distinct_versions(
        self, spark, tmp_path
    ):
        """Two interleaved publishers: the version-claim CAS serializes
        them onto DISTINCT v=N dirs (no clobber), and the pointer ends
        on the later commit — the slower racer's snapshot stays
        published and readable by explicit version."""
        from ayeaye_spark.operators.maintenance import (
            _fs_and_path, read_published, versioned_publish,
        )

        table = f"file://{tmp_path}/race"
        versioned_publish(spark, table, spark.range(10))  # v=0

        # publisher A is "in flight": it has claimed v=1 (the CAS step)
        # but has not finished writing data / moving the pointer yet
        fs, _ = _fs_and_path(spark, table)
        _, hclaim = _fs_and_path(spark, f"{table}/_claims/1")
        out = fs.create(hclaim, False)
        out.write(b"1\n")
        out.close()

        # publisher B starts now: must NOT claim v=1 (A owns it)
        vb = versioned_publish(spark, table, spark.range(20))
        assert vb == 2
        assert read_published(spark, table).count() == 20

        # A finishes late into its own claimed dir: nothing clobbered
        spark.range(5).write.mode("overwrite").parquet(f"{table}/v=1")
        assert read_published(spark, table).count() == 20  # pointer: B
        assert read_published(spark, table, version=1).count() == 5
        assert read_published(spark, table, version=2).count() == 20

    def test_reader_falls_back_when_pointer_missing(self, spark, tmp_path):
        """A pointer mid-commit on a store without atomic rename must
        not fail readers: read_published falls back to the highest
        COMPLETE (_SUCCESS-bearing) version directory."""
        from ayeaye_spark.operators.maintenance import (
            read_published, versioned_publish,
        )

        table = f"file://{tmp_path}/fallback"
        versioned_publish(spark, table, spark.range(4))
        versioned_publish(spark, table, spark.range(9))
        (tmp_path / "fallback" / "_LATEST").unlink()
        assert read_published(spark, table).count() == 9


class TestVersionedTimeTravel:
    def test_read_older_retained_version(self, spark, tmp_path):
        import pytest as _pt

        from ayeaye_spark.operators.maintenance import (
            read_published, versioned_publish,
        )

        table = f"file://{tmp_path}/tt"
        versioned_publish(spark, table, spark.range(5))
        versioned_publish(spark, table, spark.range(9))
        assert read_published(spark, table).count() == 9
        assert read_published(spark, table, version=0).count() == 5
        with _pt.raises(FileNotFoundError, match="version 7"):
            read_published(spark, table, version=7)


class TestFileIndexPruning:
    def test_index_and_pruned_read_match_full_scan(self, spark, tmp_path):
        from ayeaye_spark.operators.maintenance import build_file_index, pruned_read

        path = str(tmp_path / "clustered")
        df = spark.range(100_000).withColumn("k", F.col("id"))
        df.repartitionByRange(8, "k").sortWithinPartitions("k") \
            .write.parquet(path)

        idx = build_file_index(spark, path, ["k"])
        rows = idx.collect()
        assert len(rows) == 8
        assert sum(r["n_rows"] for r in rows) == 100_000
        # clustered layout: non-overlapping envelopes
        spans = sorted((r["k_min"], r["k_max"]) for r in rows)
        for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 <= lo2

        lo, hi = 20_000, 21_000
        got = pruned_read(spark, path, idx, "k", lo, hi)
        want = spark.read.parquet(path).where(
            (F.col("k") >= lo) & (F.col("k") <= hi))
        assert got.count() == want.count() == hi - lo + 1
        # ...and the pruned plan scans ONE file, not eight
        n_scanned = len(
            [r for r in idx.collect()
             if r["k_max"] >= lo and r["k_min"] <= hi]
        )
        assert n_scanned == 1

    def test_empty_prune_keeps_schema(self, spark, tmp_path):
        from ayeaye_spark.operators.maintenance import build_file_index, pruned_read

        path = str(tmp_path / "c2")
        spark.range(100).withColumn("k", F.col("id")).write.parquet(path)
        idx = build_file_index(spark, path, ["k"])
        out = pruned_read(spark, path, idx, "k", 10_000, 20_000)
        assert out.count() == 0
        assert set(out.columns) == {"id", "k"}


class TestRepetitionFlags:
    def test_pinned_small_corpus(self, spark):
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [
                # 4 non-empty lines, 2 of them the same -> 1 duplicate;
                # "spam spam spam spam" -> top bigram (spam,spam) 3x of
                # 4 tokens in that line
                (1, "spam spam spam spam\nother line\nother line\n\nx"),
                # no repetition at all
                (2, "one two three four"),
                # empty doc: all ppm 0, passes
                (3, ""),
            ],
            ["doc_id", "text"],
        )
        got = {
            r["doc_id"]: r.asDict()
            for r in textops.with_repetition_flags(
                docs, "doc_id", "text"
            ).collect()
        }
        d1 = got[1]
        # lines: 'spam...', 'other line' x2, 'x' -> 4 kept, 1 dup
        assert d1["n_lines"] == 4
        assert d1["dup_line_ppm"] == 1_000_000 // 4
        # doc1 tokens: spam spam spam spam other line other line x = 9
        # top bigram (spam,spam) occurs 3x -> 3*2*1e6 div 9
        assert d1["n_tokens"] == 9
        assert d1["top2_cover_ppm"] == 3 * 2 * 1_000_000 // 9
        assert d1["rep_pass"] is False  # 666666 > 200000 top2 cap
        d2 = got[2]
        assert d2["dup_line_ppm"] == 0
        assert d2["top2_cover_ppm"] == 1 * 2 * 1_000_000 // 4  # all 1x
        d3 = got[3]
        assert (
            d3["n_lines"], d3["n_tokens"], d3["dup_line_ppm"],
            d3["top2_cover_ppm"], d3["rep_pass"],
        ) == (0, 0, 0, 0, True)

    def test_coverage_caps_at_one_million(self, spark):
        """Overlapping occurrences of a self-overlapping n-gram can
        exceed the token count x coverage; the ppm must clamp."""
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [(1, "a a a a a a a a")], ["doc_id", "text"]
        )
        row = textops.with_repetition_flags(docs, "doc_id", "text").first()
        # bigram (a,a) occurs 7x over 8 tokens -> 14/8 uncapped
        assert row["top2_cover_ppm"] == 1_000_000


class TestDsirImportance:
    def test_target_like_docs_score_higher(self, spark):
        from ayeaye_spark.operators import text as textops

        rows = [
            (1, "alpha beta gamma", True),
            (2, "alpha beta delta", True),
            (3, "zeta eta theta", False),
            (4, "alpha beta gamma", False),  # target-like but raw
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text", "is_tgt"])
        got = {
            r["doc_id"]: r["dsir_score"]
            for r in textops.dsir_importance_hashed(
                docs, "doc_id", "text", "is_tgt"
            ).collect()
        }
        # docs made of target-frequent tokens outscore the off-target doc
        assert got[1] > got[3] and got[4] > got[3]
        # identical text => identical score regardless of slice label
        assert got[1] == got[4]

    def test_empty_doc_scores_zero(self, spark):
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [(1, "alpha", True), (2, "", False)], ["doc_id", "text", "t"]
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["dsir_score"])
            for r in textops.dsir_importance_hashed(
                docs, "doc_id", "text", "t"
            ).collect()
        }
        assert got[2] == (0, 0)


class TestRareTokenStats:
    def test_pinned(self, spark):
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [
                (1, "common common unique1"),
                (2, "common unique2 unique2"),
                (3, "common other"),
            ],
            ["doc_id", "text"],
        )
        got = {
            r["doc_id"]: r.asDict()
            for r in textops.rare_token_stats(
                docs, "doc_id", "text", max_df=1
            ).collect()
        }
        # 'common' df=3 (not rare at max_df=1); unique* df=1; other df=1
        assert got[1]["n_tokens"] == 3
        assert got[1]["n_rare_terms"] == 1
        assert got[1]["rare_ppm"] == 1 * 1_000_000 // 3
        assert got[2]["rare_ppm"] == 2 * 1_000_000 // 3  # 2 occurrences
        assert got[3]["n_rare_terms"] == 1


class TestRetentionCurve:
    def test_pinned_sweep(self, spark):
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, 100, 10), (2, 300, 20), (3, 500, 30), (4, 500, 40)],
            ["id", "score", "w"],
        )
        got = {
            r["threshold"]: (r["n_rows"], r["total_weight"],
                             r["row_ppm"], r["weight_ppm"])
            for r in sampling.retention_curve(
                df, "score", "w", thresholds=[0, 200, 500, 600]
            ).collect()
        }
        assert got[0] == (4, 100, 1_000_000, 1_000_000)
        assert got[200] == (3, 90, 750_000, 900_000)
        assert got[500] == (2, 70, 500_000, 700_000)
        assert got[600] == (0, 0, 0, 0)  # nothing survives


class TestSharedNgramProfile:
    def test_pinned(self, spark):
        from ayeaye_spark.operators import text as textops

        shared = "one two three four five six seven eight"
        docs = spark.createDataFrame(
            [
                (1, shared + " alpha"),        # 2 grams, 1 shared
                (2, shared),                   # 1 gram, shared
                (3, "totally different words here nine ten eleven twelve"),
                (4, "short doc"),              # < 8 tokens: no grams
            ],
            ["doc_id", "text"],
        )
        got = {
            r["doc_id"]: (r["n_grams"], r["shared_grams"], r["shared_ppm"])
            for r in textops.shared_ngram_profile(
                docs, "doc_id", "text", n=8
            ).collect()
        }
        assert got[1] == (2, 1, 500_000)
        assert got[2] == (1, 1, 1_000_000)
        assert got[3] == (1, 0, 0)
        assert got[4] == (0, 0, 0)


class TestHeavyHittersExact:
    """Two-pass Misra-Gries exact heavy hitters
    (``relational.heavy_hitters_exact``)."""

    def _naive(self, df, key, ppm):
        total = df.where(F.col(key).isNotNull()).count()
        return {
            (r["k"], r["n"])
            for r in df.groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") * 1_000_000 >= ppm * total)
            .collect()
            if r["k"] is not None
        }

    def test_matches_naive_groupby(self, spark):
        # skewed synthetic stream: a few hot keys + a long distinct tail
        rows = (
            [("hot_a",)] * 400
            + [("hot_b",)] * 150
            + [(f"tail_{i}",) for i in range(2000)]
        )
        df = spark.createDataFrame(rows, "k string").repartition(8)
        out = relational.heavy_hitters_exact(df, "k", min_freq_ppm=50_000)
        got = {(r["k"], r["n"]) for r in out.collect()}
        assert got == self._naive(df, "k", 50_000)
        assert ("hot_a", 400) in got and ("hot_b", 150) in got

    def test_superset_survives_thin_spread(self, spark):
        # the heavy key is spread evenly across partitions so no single
        # partition makes it LOCALLY dominant — the MG superset guarantee
        # (state_factor >= 2) must still surface it
        rows = [(f"u_{i}_{j}",) for i in range(64) for j in range(60)] + [
            ("heavy",) for _ in range(200)
        ]
        df = (
            spark.createDataFrame(rows, "k string")
            .repartition(16, F.col("k"))
        )
        ppm = 40_000  # heavy = 200/4040 = 49504 ppm >= 40000
        out = relational.heavy_hitters_exact(df, "k", min_freq_ppm=ppm)
        got = {(r["k"], r["n"]) for r in out.collect()}
        assert got == self._naive(df, "k", ppm)
        assert ("heavy", 200) in got

    def test_nulls_ignored_and_ppm_column(self, spark):
        rows = [("a",)] * 9 + [(None,)] * 10 + [("b",)] * 1
        df = spark.createDataFrame(rows, "k string")
        out = relational.heavy_hitters_exact(
            df, "k", min_freq_ppm=500_000
        ).collect()
        # total non-null = 10; only "a" (9/10) clears 50%
        assert [(r["k"], r["n"], r["freq_ppm"]) for r in out] == [
            ("a", 9, 900_000)
        ]

    def test_rejects_bad_threshold(self, spark):
        df = spark.createDataFrame([("a",)], "k string")
        import pytest

        with pytest.raises(ValueError):
            relational.heavy_hitters_exact(df, "k", min_freq_ppm=0)


class TestSaltedJoin:
    """Skew-safe salted equi-join (``relational.salted_join``)."""

    def _frames(self, spark):
        # skewed fact (key 1 dominates) + dim with a duplicate key (7)
        fact = spark.createDataFrame(
            [(1, i) for i in range(300)]
            + [(k, i) for k in (2, 3, 7) for i in range(5)]
            + [(99, 0)],  # key missing from dim
            "k int, payload int",
        ).repartition(6)
        dim = spark.createDataFrame(
            [(1, "hot"), (2, "a"), (3, "b"), (7, "c"), (7, "c2"), (8, "x")],
            "k int, label string",
        )
        return fact, dim

    def _as_set(self, df):
        return {tuple(r) for r in df.collect()}

    def test_inner_matches_plain_join(self, spark):
        fact, dim = self._frames(spark)
        got = relational.salted_join(
            fact, dim, "k", buckets=4, hot_freq_ppm=100_000
        )
        want = fact.join(dim, "k")
        assert self._as_set(got.select("k", "payload", "label")) == \
            self._as_set(want.select("k", "payload", "label"))

    def test_left_preserves_unmatched(self, spark):
        fact, dim = self._frames(spark)
        got = relational.salted_join(
            fact, dim, "k", buckets=4, hot_freq_ppm=100_000, how="left"
        )
        want = fact.join(dim, "k", "left")
        assert self._as_set(got.select("k", "payload", "label")) == \
            self._as_set(want.select("k", "payload", "label"))
        assert got.where("k = 99 AND label IS NULL").count() == 1

    def test_duplicate_dim_keys_preserved(self, spark):
        fact, dim = self._frames(spark)
        got = relational.salted_join(
            fact, dim, "k", buckets=3, hot_freq_ppm=50_000
        )
        # key 7 has two dim rows: each of its 5 fact rows pairs twice
        assert got.where("k = 7").count() == 10

    def test_explicit_hot_keys_frame(self, spark):
        fact, dim = self._frames(spark)
        hot = spark.createDataFrame([(1,)], "k int")
        got = relational.salted_join(
            fact, dim, "k", buckets=4, hot_keys=hot
        )
        want = fact.join(dim, "k")
        assert self._as_set(got.select("k", "payload", "label")) == \
            self._as_set(want.select("k", "payload", "label"))

    def test_rejects_outer_and_tiny_buckets(self, spark):
        import pytest

        fact, dim = self._frames(spark)
        with pytest.raises(ValueError):
            relational.salted_join(fact, dim, "k", how="full")
        with pytest.raises(ValueError):
            relational.salted_join(fact, dim, "k", buckets=1)


class TestPagerankExact:
    """Integer fixed-point PageRank (``graph.pagerank_exact``)."""

    def test_symmetric_pair_splits_evenly(self, spark):
        from ayeaye_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w int"
        )
        out = {
            r["node"]: r["pr_ppb"]
            for r in graph.pagerank_exact(
                edges, "src", "dst", "w", iterations=3
            ).collect()
        }
        # perfectly symmetric graph: both nodes keep the uniform rank
        # (500M ppb each, minus deterministic floor-division dust)
        assert out["a"] == out["b"]
        assert abs(out["a"] - 500_000_000) < 1000

    def test_hub_outranks_leaves(self, spark):
        from ayeaye_spark.operators import graph

        # star: leaves point at the hub, hub points back at one leaf
        edges = spark.createDataFrame(
            [("l1", "hub", 1), ("l2", "hub", 1), ("l3", "hub", 1),
             ("hub", "l1", 1)],
            "src string, dst string, w int",
        )
        out = {
            r["node"]: r["pr_ppb"]
            for r in graph.pagerank_exact(
                edges, "src", "dst", "w", iterations=5
            ).collect()
        }
        assert out["hub"] > out["l1"] > out["l2"]
        assert out["l2"] == out["l3"]  # symmetric leaves tie exactly

    def test_weights_shift_mass(self, spark):
        from ayeaye_spark.operators import graph

        # c splits its vote 9:1 between a and b
        edges = spark.createDataFrame(
            [("c", "a", 9), ("c", "b", 1), ("a", "c", 1), ("b", "c", 1)],
            "src string, dst string, w int",
        )
        out = {
            r["node"]: r["pr_ppb"]
            for r in graph.pagerank_exact(
                edges, "src", "dst", "w", iterations=5
            ).collect()
        }
        assert out["a"] > out["b"]

    def test_deterministic_across_partitionings(self, spark):
        from ayeaye_spark.operators import graph

        rows = [(f"n{i}", f"n{(i * 7 + 1) % 20}", 1 + i % 3)
                for i in range(20)]
        one = spark.createDataFrame(rows, "src string, dst string, w int")
        out1 = {
            (r["node"], r["pr_ppb"])
            for r in graph.pagerank_exact(
                one, "src", "dst", "w", iterations=4
            ).collect()
        }
        out2 = {
            (r["node"], r["pr_ppb"])
            for r in graph.pagerank_exact(
                one.repartition(13), "src", "dst", "w", iterations=4
            ).collect()
        }
        assert out1 == out2


class TestEditDistancePairs:
    @staticmethod
    def _lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    def test_matches_bruteforce_mixed_lengths(self, spark):
        """q-gram count filter + short stratum vs a quadratic DP brute
        force, with strings straddling the short floor (len < (k+1)*q),
        duplicates-in-input, and zero-shared-gram close pairs."""
        import random

        rng = random.Random(17)
        vocab = ["ab", "cd", "abc", "abcd", "ax", ""]
        words = ["widget", "widgets", "wadget", "gadget", "bridge",
                 "fridge", "red rod", "old rod", "red ring", "old ring"]
        vals = vocab + words + ["".join(rng.choices("abcdef", k=rng.randint(1, 9)))
                                for _ in range(40)]
        rows = [(v,) for v in vals] + [(v,) for v in vals[::3]]  # dups
        df = spark.createDataFrame(rows, "name string")
        for k in (1, 2):
            got = sorted(
                (r["name_a"], r["name_b"], r["distance"])
                for r in dedup.qgram_edit_distance_pairs(
                    df, "name", max_distance=k, q=2).collect()
            )
            uniq = sorted(set(vals))
            expect = sorted(
                (a, b, self._lev(a, b))
                for i, a in enumerate(uniq) for b in uniq[i + 1:]
                if self._lev(a, b) <= k
            )
            assert got == expect, k
            assert len(expect) >= 5, k
        # zero-shared-gram close pair must be found (short stratum)
        two = {(a, b) for a, b, _d in sorted(
            (r["name_a"], r["name_b"], r["distance"])
            for r in dedup.qgram_edit_distance_pairs(
                df, "name", max_distance=2, q=2).collect())}
        assert ("ab", "cd") in two


class TestParetoFrontier:
    def test_matches_bruteforce_with_duplicates(self, spark):
        """Skyline (min x, max y) vs the quadratic NOT-EXISTS
        definition; duplicated frontier points must BOTH survive."""
        import random

        rng = random.Random(9)
        pts = [(i, rng.randint(0, 50), rng.randint(0, 50))
               for i in range(120)]
        pts += [(200, 5, 49), (201, 5, 49)]  # duplicate frontier point
        df = spark.createDataFrame(pts, "id long, x long, y long")
        got = sorted(r["id"] for r in
                     relational.pareto_frontier_2d(df, "x", "y").collect())
        expect = sorted(
            i for i, x, y in pts
            if not any(
                dx <= x and dy >= y and (dx < x or dy > y)
                for _j, dx, dy in pts
            )
        )
        assert got == expect and len(expect) >= 3

    def test_float_x_guard_and_bucket_path(self, spark):
        import pytest

        df = spark.createDataFrame(
            [(1, 0.1, 10), (2, 0.2, 20), (3, 0.3, 5)],
            "id long, x double, y long")
        with pytest.raises(ValueError, match="x_bucket_expr"):
            relational.pareto_frontier_2d(df, "x", "y")
        got = {r["id"] for r in relational.pareto_frontier_2d(
            df, "x", "y", x_bucket_expr=F.floor(F.col("x") * 10)
        ).collect()}
        # bucketized: x-buckets 1,2,3 -> frontier = (1,10),(2,20)
        assert got == {1, 2}

    def test_nulls_never_on_frontier(self, spark):
        df = spark.createDataFrame(
            [(1, None, 99), (2, 5, None), (3, 5, 7)],
            "id long, x long, y long")
        got = {r["id"] for r in
               relational.pareto_frontier_2d(df, "x", "y").collect()}
        assert got == {3}

    def test_grouped_frontier_independent_per_group(self, spark):
        """group_cols: each group's skyline computed independently; a
        point dominated only by another group's point stays."""
        import random

        rng = random.Random(21)
        pts = [(i, "g" + str(i % 3), rng.randint(0, 30), rng.randint(0, 30))
               for i in range(90)]
        df = spark.createDataFrame(pts, "id long, g string, x long, y long")
        got = sorted(r["id"] for r in relational.pareto_frontier_2d(
            df, "x", "y", group_cols=["g"]).collect())
        expect = sorted(
            i for i, g, x, y in pts
            if not any(
                dg == g and dx <= x and dy >= y and (dx < x or dy > y)
                for _j, dg, dx, dy in pts
            )
        )
        assert got == expect and len(expect) >= 6


class TestWinsorize:
    def test_matches_numpy_type1_clip(self, spark):
        """Clip bounds = exact type-1 order statistics at ceil(n*q);
        parity with a python reference, per group."""
        import math
        import random

        rng = random.Random(13)
        rows = [(i, "g" + str(i % 2), round(rng.uniform(0, 100), 2))
                for i in range(200)]
        df = spark.createDataFrame(rows, "id long, g string, v double")
        got = {r["id"]: (r["_wlo"], r["_whi"], r["v_winsorized"])
               for r in relational.winsorize(
                   df, "g", "v", lower=0.1, upper=0.9, out_col="v_winsorized"
               ).collect()}
        by_g = {}
        for _i, g, v in rows:
            by_g.setdefault(g, []).append(v)
        for g in by_g:
            vs = sorted(by_g[g])
            n = len(vs)
            lo = vs[max(math.ceil(n * 0.1), 1) - 1]
            hi = vs[max(math.ceil(n * 0.9), 1) - 1]
            for i, gg, v in rows:
                if gg == g:
                    assert got[i] == (lo, hi, min(max(v, lo), hi)), (i, g)
        # the fixture actually exercises clipping on a real fraction
        n_clip = sum(1 for i, _g, v in rows if got[i][2] != v)
        assert n_clip >= 20


class TestTriangleStats:
    def test_matches_bruteforce_random_graph(self, spark):
        """Degree-ordered-orientation census vs a python brute force on
        an Erdos-Renyi-ish graph with duplicate/reversed/self-loop
        noise in the input edge list."""
        import itertools
        import random

        from ayeaye_spark.operators import graph

        rng = random.Random(5)
        n = 30
        base = [(i, j) for i in range(n) for j in range(i + 1, n)
                if rng.random() < 0.25]
        noisy = base + [(b, a) for a, b in base[::3]] + [(4, 4), (7, 7)]
        rng.shuffle(noisy)
        df = spark.createDataFrame(noisy, "a long, b long")
        row = graph.triangle_stats(df, "a", "b").collect()[0]

        es = set(base)
        verts = {v for e in es for v in e}
        deg = {v: sum(1 for e in es if v in e) for v in verts}
        wedges = sum(d * (d - 1) // 2 for d in deg.values())
        tris = sum(
            1 for x, y, z in itertools.combinations(sorted(verts), 3)
            if (x, y) in es and (x, z) in es and (y, z) in es
        )
        assert (row["n_vertices"], row["n_edges"], row["n_wedges"],
                row["n_triangles"]) == (len(verts), len(es), wedges, tris)
        assert row["clustering_ppm"] == 3 * tris * 1_000_000 // wedges
        assert tris > 10  # the graph actually has structure to count

    def test_triangle_free_and_complete(self, spark):
        from ayeaye_spark.operators import graph

        # star K_1,4: wedge-rich, triangle-free
        star = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], "a long, b long")
        r = graph.triangle_stats(star, "a", "b").collect()[0]
        assert r["n_triangles"] == 0 and r["n_wedges"] == 6
        assert r["clustering_ppm"] == 0
        # K_4: every wedge closes
        k4 = spark.createDataFrame(
            [(i, j) for i in range(4) for j in range(i + 1, 4)],
            "a long, b long")
        r = graph.triangle_stats(k4, "a", "b").collect()[0]
        assert r["n_triangles"] == 4 and r["clustering_ppm"] == 1_000_000

    def test_rejects_zero_iterations(self, spark):
        import pytest

        from ayeaye_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b", 1)], "src string, dst string, w int"
        )
        with pytest.raises(ValueError):
            graph.pagerank_exact(edges, "src", "dst", "w", iterations=0)


class TestRandomProjection:
    """Deterministic signed random projection
    (``similarity.random_projection``)."""

    def test_deterministic_and_partition_independent(self, spark):
        import math

        rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(32)])
                for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        a = {
            r["vec_id"]: tuple(r["rvec"])
            for r in similarity.random_projection(
                df, "embedding", in_dim=32, out_dim=8
            ).collect()
        }
        b = {
            r["vec_id"]: tuple(r["rvec"])
            for r in similarity.random_projection(
                df.repartition(7), "embedding", in_dim=32, out_dim=8
            ).collect()
        }
        assert a == b  # bit-identical regardless of partitioning
        # JL sanity: projected norms stay within a loose factor of
        # sqrt(out_dim/dim)-scaled originals (signs are ±1, not scaled)
        for vid, rv in a.items():
            orig = rows[vid][1]
            n_orig = math.sqrt(sum(x * x for x in orig))
            n_proj = math.sqrt(sum(y * y for y in rv))
            if n_orig:
                assert n_proj < 32 * n_orig  # no blowup

    def test_seed_changes_projection(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id int, embedding array<double>"
        )
        a = similarity.random_projection(
            df, "embedding", in_dim=4, out_dim=4, seed="rp"
        ).collect()[0]["rvec"]
        b = similarity.random_projection(
            df, "embedding", in_dim=4, out_dim=4, seed="other"
        ).collect()[0]["rvec"]
        assert a != b


class TestEditDistancePairs:
    """SymSpell deletion-neighborhood distance-1 join
    (``dedup.edit_distance_pairs``)."""

    def test_matches_naive_levenshtein(self, spark):
        names = ["kitten", "sitten", "kittens", "kitte", "mitten",
                 "banana", "banan", "bananna", "apple", "kitchen"]
        df = spark.createDataFrame(
            list(enumerate(names)), "id int, name string"
        )
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.edit_distance_pairs(df, "id", "name").collect()
        }
        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        want = {
            (i, j, lev(a, b))
            for (i, a), (j, b) in itertools.combinations(
                enumerate(names), 2
            )
            if lev(a, b) <= 1
        }
        assert got == want
        assert (0, 1, 1) in got      # substitution
        assert (0, 2, 1) in got      # insertion
        assert (0, 3, 1) in got      # deletion
        assert not any(p[:2] == (6, 7) for p in got)  # banan->bananna dist 2

    def test_identical_strings_are_distance_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "diff")], "id int, name string"
        )
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.edit_distance_pairs(df, "id", "name").collect()
        }
        assert (1, 2, 0) in got

    def test_empty_string_edge(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, "a"), (3, "ab")], "id int, name string"
        )
        got = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in dedup.edit_distance_pairs(df, "id", "name").collect()
        }
        assert (1, 2, 1) in got and (2, 3, 1) in got
        assert not any(p[:2] == (1, 3) for p in got)

    def test_rejects_unsupported_distance(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "x")], "id int, name string")
        with pytest.raises(ValueError):
            dedup.edit_distance_pairs(df, "id", "name", max_dist=2)


class TestIntervalConcurrency:
    """Hierarchical sweep-line (``relational.interval_concurrency``)."""

    def _naive_peaks(self, intervals):
        # global sweep in plain python: ends before starts at equal ts
        bounds = [(s, 1) for s, e in intervals] + [(e, -1) for s, e in intervals]
        bounds.sort(key=lambda b: (b[0], b[1]))
        run, peaks = 0, {}
        for t, d in bounds:
            run += d
            if d == 1:
                day = t.date()
                peaks[day] = max(peaks.get(day, 0), run)
        return peaks

    def _run(self, spark, intervals):
        df = spark.createDataFrame(intervals, ["s", "e"])
        conc = relational.interval_concurrency(df, "s", "e", bucket="hour")
        got = {
            r["day"]: r["peak"]
            for r in conc.where(F.col("delta") == 1)
            .groupBy(F.to_date("ts").alias("day"))
            .agg(F.max("concurrency").alias("peak"))
            .collect()
        }
        return got

    def test_matches_naive_global_sweep(self, spark):
        import random

        rng = random.Random(7)
        base = ts("2024-03-01T00:00:00")
        intervals = []
        for _ in range(300):
            st = base + datetime.timedelta(seconds=rng.randrange(0, 5 * 86400))
            ln = datetime.timedelta(seconds=rng.randrange(0, 8 * 3600))
            intervals.append((st, st + ln))
        assert self._run(spark, intervals) == self._naive_peaks(intervals)

    def test_point_interval_not_self_concurrent(self, spark):
        t = ts("2024-01-01T10:00:00")
        got = self._run(spark, [(t, t)])
        # its own -1 sorts first: the open instant sees zero active
        assert got == {t.date(): 0}

    def test_end_meets_start_not_concurrent(self, spark):
        a = (ts("2024-01-01T09:00:00"), ts("2024-01-01T10:00:00"))
        b = (ts("2024-01-01T10:00:00"), ts("2024-01-01T11:00:00"))
        got = self._run(spark, [a, b])
        assert got == {datetime.date(2024, 1, 1): 1}  # never 2 at once

    def test_midnight_span_carries_into_next_day(self, spark):
        # one interval open across midnight; the next day's first start
        # must see it via the hourly carry-in, with no boundary row of
        # its own inside that day
        long_iv = (ts("2024-01-01T23:00:00"), ts("2024-01-02T03:00:00"))
        nxt = (ts("2024-01-02T01:00:00"), ts("2024-01-02T02:00:00"))
        got = self._run(spark, [long_iv, nxt])
        assert got[datetime.date(2024, 1, 2)] == 2


class TestCorrelationMatrix:
    def test_matches_numpy_and_handles_nulls(self, spark):
        """Exact-decimal corr vs numpy (float reference, ~1e-12), NULL
        rows dropped listwise, degenerate (constant) column -> NULL."""
        import numpy as np
        import pytest as pt

        rows = [
            (1.00, 2.50, 7.0),
            (2.00, 4.90, 7.0),
            (3.00, 7.60, 7.0),
            (4.00, 9.90, 7.0),
            (None, 1.00, 7.0),   # dropped listwise
        ]
        df = spark.createDataFrame(rows, "a double, b double, c double")
        got = {(r["col_x"], r["col_y"]): r["corr"]
               for r in relational.correlation_matrix(
                   df, ["a", "b", "c"], scale=100).collect()}
        x = np.array([r[0] for r in rows[:4]])
        y = np.array([r[1] for r in rows[:4]])
        assert got[("a", "b")] == pt.approx(np.corrcoef(x, y)[0, 1], rel=1e-12)
        assert got[("a", "c")] is None and got[("b", "c")] is None
        assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    def test_scale_invariance_and_perfect_corr(self, spark):
        df = spark.createDataFrame(
            [(i * 1.0, i * 3.0) for i in range(1, 9)], "a double, b double"
        )
        out = relational.correlation_matrix(df, ["a", "b"], scale=10).collect()
        assert out[0]["corr"] == 1.0

    def test_spearman_with_ties_matches_reference(self, spark):
        """Tie-averaged Spearman vs a hand-rolled numpy reference
        (average ranks, Pearson on ranks) — exercises tied values in
        both columns; monotone nonlinear relation gives rho=1."""
        import numpy as np
        import pytest as pt

        a = [1.0, 2.0, 2.0, 3.0, 4.0, 4.0, 5.0, 6.0]
        b = [1.0, 4.0, 4.0, 9.0, 16.0, 16.0, 25.0, 36.0]  # a**2: rho=1
        df = spark.createDataFrame(list(zip(a, b)), "a double, b double")
        out = relational.spearman_correlation(df, "a", "b",
                                              scale_a=10, scale_b=10).collect()
        assert out[0]["rho"] == 1.0 and out[0]["col_x"] == "a"

        rng = np.random.default_rng(5)
        x = rng.integers(0, 6, size=50).astype(float)
        y = (x + rng.integers(0, 4, size=50)).astype(float)
        df2 = spark.createDataFrame(
            [(float(i), float(j)) for i, j in zip(x, y)], "a double, b double"
        )
        got = relational.spearman_correlation(df2, "a", "b",
                                              scale_a=1, scale_b=1).collect()

        def avg_ranks(v):
            order = np.argsort(v, kind="stable")
            r = np.empty(len(v))
            i = 0
            sv = v[order]
            while i < len(v):
                j = i
                while j < len(v) and sv[j] == sv[i]:
                    j += 1
                r[order[i:j]] = (i + j + 1) / 2  # average of 1-based ranks
                i = j
            return r

        ref = np.corrcoef(avg_ranks(x), avg_ranks(y))[0, 1]
        assert got[0]["rho"] == pt.approx(ref, rel=1e-12)


class TestImageNearDup:
    """dHash perceptual fingerprint + generic banded Hamming join."""

    @staticmethod
    def _bmp(px):
        """Build a real uncompressed 24-bit BMP from a (h, w, 3) uint8
        array — rows written BOTTOM-UP as the format stores them
        (positive height), so the reader's orientation flip is
        exercised and decode returns px top-down."""
        import struct

        import numpy as np

        h, w, _ = px.shape
        stride = ((w * 3 + 3) // 4) * 4
        body = b"".join(
            bytes(px[r].reshape(-1)) + b"\0" * (stride - w * 3)
            for r in reversed(range(h))
        )
        hdr = (
            b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        )
        assert np.uint8 is px.dtype.type
        return hdr + body

    @staticmethod
    def _gradient(w=36, h=24, seed=0):
        import numpy as np

        rng = np.random.RandomState(seed)
        base = np.linspace(0, 200, w, dtype=np.uint8)
        img = np.tile(base, (h, 1))[:, :, None].repeat(3, axis=2)
        return (img + rng.randint(0, 8, img.shape)).astype(np.uint8)

    def test_dhash_brightness_invariant(self):
        import numpy as np

        img = self._gradient()
        h1 = multimodal.dhash64(self._bmp(img))
        h2 = multimodal.dhash64(self._bmp(np.clip(img.astype(int) + 20, 0, 255).astype(np.uint8)))
        assert h1 is not None and h1 == h2  # uniform shift: same differences

    def test_dhash_rejects_tiny_and_garbage(self):
        import numpy as np

        assert multimodal.dhash64(b"not a bitmap") is None
        tiny = np.zeros((4, 4, 3), dtype=np.uint8)
        assert multimodal.dhash64(self._bmp(tiny)) is None  # < 9x8 grid

    def test_near_pair_found_distinct_not(self, spark):
        import numpy as np

        base = self._gradient(seed=1)
        near = base.copy()
        near[0, 0] = [255, 255, 255]  # one-pixel change
        far = self._gradient(seed=2)[:, ::-1]  # reversed gradient
        rows = [("a", bytearray(self._bmp(base))),
                ("b", bytearray(self._bmp(near))),
                ("c", bytearray(self._bmp(far))),
                ("junk", bytearray(b"JJ"))]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {(r["path_a"], r["path_b"]): r["hamming"]
               for r in multimodal.image_near_dup_pairs(df, max_hamming=3).collect()}
        assert ("a", "b") in got and got[("a", "b")] <= 3
        assert not any("c" in p or "junk" in p for p in got)

    def test_banded_join_matches_bruteforce(self, spark):
        """Random 64-bit signatures (incl. negatives): the banded join
        must return EXACTLY the brute-force Hamming-<=k pair set."""
        import random

        rng = random.Random(11)
        sigs = []
        for i in range(60):
            v = rng.getrandbits(64)
            sigs.append((f"id{i:02d}", v - (1 << 64) if v >= (1 << 63) else v))
        # plant close pairs: flip 1-3 bits of existing sigs
        for j, (src, flips) in enumerate([(3, 1), (17, 2), (42, 3), (5, 7)]):
            v = sigs[src][1]
            for b in rng.sample(range(64), flips):
                v ^= 1 << b
            v &= (1 << 64) - 1
            sigs.append((f"nd{j}", v - (1 << 64) if v >= (1 << 63) else v))
        expect = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                a, b = sorted((sigs[i][0], sigs[j][0]))
                d = bin((sigs[i][1] ^ sigs[j][1]) & ((1 << 64) - 1)).count("1")
                if d <= 3:
                    expect.add((a, b, d))
        df = spark.createDataFrame(sigs, "pid string, sig long")
        got = {(r["pid_a"], r["pid_b"], r["hamming"])
               for r in dedup.hamming_near_pairs(
                   df, "pid", "sig", fp_bits=64, max_hamming=3, bands=4
               ).collect()}
        assert got == expect and len(expect) >= 3


class TestAudioNearDup:
    """Spectral fingerprint (``multimodal.audio_fingerprint64``) + the
    shared banded Hamming join, over REAL constructed PCM WAVs."""

    @staticmethod
    def _wav(x, *, rate=8000, bps=16):
        """16-bit (or 8-bit) mono PCM WAV from a float array in [-1, 1]."""
        import struct

        import numpy as np

        if bps == 16:
            pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
        else:
            pcm = (np.clip(x, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
        blk = bps // 8
        return (
            b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * blk, blk, bps)
            + b"data" + struct.pack("<I", len(pcm)) + pcm
        )

    @staticmethod
    def _tone_mix(f1, f2, *, n=4096, rate=8000):
        import numpy as np

        t = np.arange(n) / rate
        return 0.55 * np.sin(2 * np.pi * f1 * t) + 0.33 * np.sin(2 * np.pi * f2 * t)

    def test_gain_invariant(self):
        x = self._tone_mix(500, 1900)
        h1 = multimodal.audio_fingerprint64(self._wav(x))
        h2 = multimodal.audio_fingerprint64(self._wav(x * 0.5))
        assert h1 is not None and h1 == h2

    def test_requantization_is_near(self):
        x = self._tone_mix(500, 1900)
        h16 = multimodal.audio_fingerprint64(self._wav(x, bps=16))
        h8 = multimodal.audio_fingerprint64(self._wav(x, bps=8))
        d = bin((h16 ^ h8) & ((1 << 64) - 1)).count("1")
        assert d <= 5  # re-encode at lower depth stays a near-dup

    def test_rejects_short_and_garbage(self):
        import numpy as np

        assert multimodal.audio_fingerprint64(b"RIFFjunk") is None
        assert multimodal.audio_fingerprint64(
            self._wav(np.zeros(64))) is None  # < 128 mono samples

    def test_pairs_end_to_end(self, spark):
        a = self._tone_mix(500, 1900)
        c = self._tone_mix(3100, 700)
        rows = [
            ("a16", bytearray(self._wav(a, bps=16))),
            ("a8", bytearray(self._wav(a, bps=8))),
            ("c16", bytearray(self._wav(c, bps=16))),
            ("junk", bytearray(b"nope")),
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        pairs = multimodal.image_near_dup_pairs(
            df, hasher=multimodal.audio_fingerprint64, max_hamming=5, bands=8
        )
        got = {(r["path_a"], r["path_b"]): r["hamming"]
               for r in pairs.collect()}
        assert ("a16", "a8") in got
        assert not any("c16" in p or "junk" in p for p in got)


class TestVideoNearDup:
    """Concatenated-BMP 'video' → per-frame dHash sets → shared
    inverted-index Jaccard join (``dedup.set_jaccard_pairs``)."""

    @staticmethod
    def _frame(seed):
        """Structurally distinct frames: horizontal sine pattern whose
        frequency/phase vary per seed (seed-noise alone leaves the
        block-mean dHash identical across frames)."""
        import numpy as np

        w, h = 36, 24
        x = np.arange(w)
        wave = 128 + 100 * np.sin(
            2 * np.pi * (x / w * (1 + seed % 5)) + seed * 0.7
        )
        img = np.tile(wave.astype(np.uint8), (h, 1))[:, :, None].repeat(3, axis=2)
        return TestImageNearDup._bmp(img.astype(np.uint8))

    def test_split_roundtrip(self):
        frames = [self._frame(i) for i in range(3)]
        got = multimodal.split_bmp_frames(b"".join(frames))
        assert got == frames
        assert multimodal.split_bmp_frames(b"not video") == []

    def test_pairs_end_to_end(self, spark):
        import numpy as np

        a = [self._frame(i) for i in range(6)]          # f0..f5
        b = [self._frame(99)] + a[1:]                    # one swapped frame
        c = [self._frame(i) for i in range(10, 16)]      # unrelated clip
        rows = [("a", bytearray(b"".join(a))),
                ("b", bytearray(b"".join(b))),
                ("c", bytearray(b"".join(c))),
                ("junk", bytearray(b"JJ"))]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {(r["path_a"], r["path_b"]): r["jaccard"]
               for r in multimodal.video_near_dup_pairs(df, threshold=0.5).collect()}
        assert ("a", "b") in got and got[("a", "b")] >= 5 / 7
        assert not any("c" in p or "junk" in p for p in got)

    def test_avi_demux_pixel_roundtrip(self):
        """REAL RIFF/AVI container (round 12): write_avi -> frame
        re-wrap as BMP -> pixel equality with the source arrays."""
        import numpy as np

        rng = np.random.RandomState(7)
        frames = [rng.randint(0, 256, size=(10, 14, 3), dtype=np.uint8)
                  for _ in range(3)]
        avi = multimodal.write_avi(frames, fps=5)
        bmps = multimodal.split_avi_frames(avi)
        assert len(bmps) == 3
        for fr, bmp in zip(frames, bmps):
            assert (multimodal._pixel_rgb(bmp) == fr).all()

    def test_avi_header_metadata(self):
        import numpy as np

        avi = multimodal.write_avi(
            [np.zeros((8, 12, 3), np.uint8)] * 4, fps=8
        )
        meta = multimodal.parse_avi_header(avi)
        assert meta == {"format": "avi", "width": 12, "height": 8,
                        "duration_ms": 500}
        # header_decode routes AVI; RIFF-WAV still parses as wav
        assert multimodal.header_decode(avi)["format"] == "avi"
        import struct

        wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
               + b"fmt " + struct.pack("<I", 16)
               + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
               + b"data" + struct.pack("<I", 0))
        assert multimodal.parse_avi_header(wav) is None
        assert multimodal.header_decode(wav)["format"] == "wav"

    def test_avi_signatures_match_bmp_container(self, spark):
        """Cross-container parity: the same frames hash identically
        whether demuxed from a real AVI or the concatenated-BMP
        stand-in — the splitter is the only moving part."""
        import numpy as np

        bmp_frames = [self._frame(i) for i in range(4)]
        rgb = [multimodal._pixel_rgb(f) for f in bmp_frames]
        avi = multimodal.write_avi(rgb, fps=10)
        df = spark.createDataFrame(
            [("clip.avi", bytearray(avi)),
             ("noise", bytearray(b"JJ"))],
            "path string, content binary",
        )
        got = {r["path"]: r["frame_hashes"] for r in
               multimodal.video_frame_signatures(
                   df, splitter=multimodal.split_avi_frames).collect()}
        want = [multimodal.dhash64(f) for f in bmp_frames]
        assert got["clip.avi"] == want
        assert got["noise"] is None

    def test_avi_hostile_bytes(self):
        import numpy as np

        avi = multimodal.write_avi(
            [np.zeros((8, 12, 3), np.uint8)] * 2, fps=4
        )
        assert multimodal.split_avi_frames(b"RIFFxxxx") == []
        assert multimodal.split_avi_frames(b"not a container") == []
        assert multimodal.parse_avi_header(b"") is None
        # truncation mid-movi: parses what framed correctly, no raise
        cut = multimodal.split_avi_frames(avi[:len(avi) * 2 // 3])
        assert isinstance(cut, list) and len(cut) <= 2

    def test_mp4_header_metadata(self):
        """ISO-BMFF box walk: mvhd duration (both versions) + video
        tkhd 16.16 width/height; audio-only tkhd (0x0) skipped."""
        import struct

        def box(typ, payload):
            return struct.pack(">I", 8 + len(payload)) + typ + payload

        def tkhd(w, h, ver=0):
            # v0 tkhd: ver/flags + 76 bytes of fields, width/height last
            body = bytes([ver, 0, 0, 0]) + b"\x00" * 68 \
                + struct.pack(">II", w << 16, h << 16)
            return box(b"tkhd", body)

        mvhd_v0 = box(b"mvhd", bytes(4) + bytes(8)
                      + struct.pack(">II", 1000, 7500) + bytes(80))
        mvhd_v1 = box(b"mvhd", bytes([1, 0, 0, 0]) + bytes(16)
                      + struct.pack(">IQ", 600, 1800) + bytes(80))
        audio_trak = box(b"trak", tkhd(0, 0))
        video_trak = box(b"trak", tkhd(640, 360))
        ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        mp4 = ftyp + box(b"moov", mvhd_v0 + audio_trak + video_trak)
        got = multimodal.parse_mp4_header(mp4)
        assert got == {"format": "mp4", "width": 640, "height": 360,
                       "duration_ms": 7500}
        mp4v1 = ftyp + box(b"moov", mvhd_v1 + video_trak)
        assert multimodal.parse_mp4_header(mp4v1)["duration_ms"] == 3000
        # header_decode routes it; hostile/truncated bytes never raise
        assert multimodal.header_decode(mp4)["format"] == "mp4"
        assert multimodal.parse_mp4_header(b"\x00\x00\x00\x08free") is None
        assert multimodal.parse_mp4_header(mp4[:30])["width"] is None

    def test_flac_header_metadata(self):
        """STREAMINFO block walk: exact rate/channels/duration."""
        total, rate, nch = 88200, 44100, 2
        packed = (rate << 44) | ((nch - 1) << 41) | ((16 - 1) << 36) | total
        info = (b"\x10\x00\x10\x00" + b"\x00" * 6
                + packed.to_bytes(8, "big") + b"\x00" * 16)
        flac = (b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big")
                + info)
        got = multimodal.parse_flac_header(flac)
        assert got == {"format": "flac", "channels": 2,
                       "sample_rate": 44100, "duration_ms": 2000}
        # padding block first, STREAMINFO second
        flac2 = (b"fLaC" + bytes([0x01]) + (4).to_bytes(3, "big") + b"\x00" * 4
                 + bytes([0x80]) + len(info).to_bytes(3, "big") + info)
        assert multimodal.parse_flac_header(flac2)["duration_ms"] == 2000
        assert multimodal.parse_flac_header(b"fLaC") is None
        assert multimodal.parse_flac_header(b"not-flac") is None
        # header_decode routes it
        assert multimodal.header_decode(flac)["format"] == "flac"

    def test_mp3_header_metadata(self):
        """ID3v2 skip + frame sync parse + CBR duration estimate."""
        # MPEG1 Layer III, 128 kbps (bri=9), 44100 Hz (sri=0), stereo:
        # frame length 144*128000/44100 = 417; chained frames so the
        # next-sync validation holds
        frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * (417 - 4)
        audio = frame * 38  # 15846 bytes
        got = multimodal.parse_mp3_header(audio)
        assert got == {"format": "mp3", "channels": 2,
                       "sample_rate": 44100,
                       "duration_ms": len(audio) * 8 // 128}
        # ID3v2 tag (syncsafe size 200) precedes the sync
        id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 72]) + b"\x00" * 200
        assert multimodal.parse_mp3_header(id3 + audio)["sample_rate"] == 44100
        # mono flag, MPEG2 table: floor(72*64000/22050) = 208
        f2 = bytes([0xFF, 0xF3, 0x80, 0xC0]) + b"\x00" * (208 - 4)
        got2 = multimodal.parse_mp3_header(f2 * 40)
        assert got2["channels"] == 1 and got2["sample_rate"] == 22050
        assert got2["duration_ms"] == 208 * 40 * 8 // 64
        # a lone mid-buffer sync with no follow-up frame is NOT mp3
        assert multimodal.parse_mp3_header(
            b"\x00" * 10 + bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 2000
        ) is None
        assert multimodal.parse_mp3_header(b"\x00" * 64) is None
        assert multimodal.header_decode(audio)["format"] == "mp3"

    def test_ogg_header_metadata(self):
        """First-page id packet + last-page granule duration."""
        def page(payload, granule=0):
            seg = bytes([len(payload)])
            return (b"OggS\x00\x02" + granule.to_bytes(8, "little")
                    + b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00"
                    + b"\x00\x00\x00\x00" + b"\x01" + seg + payload)

        vorbis_id = (b"\x01vorbis" + b"\x00\x00\x00\x00" + bytes([2])
                     + (44100).to_bytes(4, "little") + b"\x00" * 16)
        ogg = page(vorbis_id) + page(b"\x00" * 20, granule=44100 * 3)
        got = multimodal.parse_ogg_header(ogg)
        assert got == {"format": "ogg-vorbis", "channels": 2,
                       "sample_rate": 44100, "duration_ms": 3000}
        opus_id = (b"OpusHead\x01" + bytes([1]) + (312).to_bytes(2, "little")
                   + (16000).to_bytes(4, "little") + b"\x00\x00\x00")
        ogg2 = page(opus_id) + page(b"\x00" * 10, granule=96000)
        got2 = multimodal.parse_ogg_header(ogg2)
        assert got2["format"] == "ogg-opus" and got2["sample_rate"] == 16000
        assert got2["duration_ms"] == 2000  # 48 kHz granule units
        assert multimodal.parse_ogg_header(b"OggS") is None
        assert multimodal.header_decode(ogg)["format"] == "ogg-vorbis"

    def test_tiff_header_metadata(self):
        """IFD0 width/height/channels, both byte orders, offset-chased
        LONG values."""
        import struct

        def tiff(bo, fmt_ch):
            # 3 entries: width SHORT inline, height LONG inline, spp
            e = struct.pack(bo + "H", 3)
            e += struct.pack(bo + "HHI", 256, 3, 1) + struct.pack(
                bo + "H", 800) + b"\x00\x00"
            e += struct.pack(bo + "HHI", 257, 4, 1) + struct.pack(
                bo + "I", 600)
            e += struct.pack(bo + "HHI", 277, 3, 1) + struct.pack(
                bo + "H", fmt_ch) + b"\x00\x00"
            e += b"\x00\x00\x00\x00"  # next-IFD terminator
            magic = b"II*\x00" if bo == "<" else b"MM\x00*"
            return magic + struct.pack(bo + "I", 8) + e

        for bo in ("<", ">"):
            got = multimodal.parse_tiff_header(tiff(bo, 3))
            assert got == {"format": "tiff", "width": 800,
                           "height": 600, "channels": 3}, bo
        assert multimodal.parse_tiff_header(b"II*\x00\x08\x00") is None
        assert multimodal.parse_tiff_header(b"nope") is None
        assert multimodal.header_decode(tiff("<", 1))["format"] == "tiff"

    def test_webm_header_metadata(self):
        """EBML walk: Segment->Info duration (TimestampScale-aware)
        and Tracks->TrackEntry->Video pixel dimensions; unknown-size
        segments and truncation degrade, never raise."""
        import struct

        def vsize(n):  # 2-byte EBML size with marker 0x40
            return bytes([0x40 | (n >> 8), n & 0xFF])

        def elem(eid_bytes, payload):
            return eid_bytes + vsize(len(payload)) + payload

        ebml_hdr = elem(b"\x1a\x45\xdf\xa3", b"\x00" * 4)
        ts_scale = elem(b"\x2a\xd7\xb1", (1_000_000).to_bytes(4, "big"))
        dur = elem(b"\x44\x89", struct.pack(">d", 12500.0))
        info = elem(b"\x15\x49\xa9\x66", ts_scale + dur)
        video = elem(b"\xe0", elem(b"\xb0", (640).to_bytes(2, "big"))
                     + elem(b"\xba", (360).to_bytes(2, "big")))
        tracks = elem(b"\x16\x54\xae\x6b", elem(b"\xae", video))
        webm = ebml_hdr + elem(b"\x18\x53\x80\x67", info + tracks)
        got = multimodal.parse_webm_header(webm)
        assert got == {"format": "webm", "width": 640, "height": 360,
                       "duration_ms": 12500}
        # unknown-size segment (streamed matroska) still descends
        unk = (ebml_hdr + b"\x18\x53\x80\x67"
               + b"\x01\xff\xff\xff\xff\xff\xff\xff" + info + tracks)
        assert multimodal.parse_webm_header(unk)["duration_ms"] == 12500
        assert multimodal.parse_webm_header(webm[:20])["format"] == "webm"
        assert multimodal.parse_webm_header(b"not-ebml") is None
        assert multimodal.header_decode(webm)["format"] == "webm"
        # adversarial deep nesting must not blow the stack (review
        # r12: ~1500 nested unknown-size Video containers raised
        # RecursionError straight through header_decode)
        bomb = (b"\x1a\x45\xdf\xa3" + b"\x80"
                + (b"\xe0" + b"\x01" + b"\xff" * 7) * 1500)
        got_bomb = multimodal.parse_webm_header(bomb)
        assert got_bomb is not None and got_bomb["format"] == "webm"
        # 1-byte unknown-size marker 0xFF must descend, not cap at 127
        big_info = elem(b"\x15\x49\xa9\x66", b"\x00" * 200) + info
        unk1 = ebml_hdr + b"\x18\x53\x80\x67" + b"\xff" + big_info + tracks
        assert multimodal.parse_webm_header(unk1)["duration_ms"] == 12500

    def test_id3_tags(self, spark):
        """ID3v2.3 and v2.4 text frames, utf-16/utf-8 encodings, COMM
        language+descriptor skip, padding stop; Spark stage end to
        end."""
        def frame(fid, payload, v24=False):
            size = len(payload)
            raw = (bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                          (size >> 7) & 0x7F, size & 0x7F])
                   if v24 else size.to_bytes(4, "big"))
            return fid + raw + b"\x00\x00" + payload

        def tag(frames, ver=3):
            body = b"".join(frames) + b"\x00" * 16  # padding
            size = len(body)
            ss = bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                        (size >> 7) & 0x7F, size & 0x7F])
            return b"ID3" + bytes([ver, 0, 0]) + ss + body

        t3 = tag([
            frame(b"TIT2", b"\x03Night Drive"),
            frame(b"TPE1", b"\x01" + "Café Trio".encode("utf-16")),
            frame(b"TYER", b"\x001987"),
            frame(b"COMM", b"\x00engnote\x00a test comment"),
            # UTF-16 COMM with a NON-EMPTY descriptor: the 0x0000
            # terminator sits at an odd offset after ASCII-in-UTF-16
            # (review r12: a bare find() sheared the alignment)
            frame(b"TCON", b"\x01" + "Synth".encode("utf-16")),
        ])
        u16_comm = tag([frame(
            b"COMM",
            b"\x01eng" + "A".encode("utf-16") + b"\x00\x00"
            + "hello".encode("utf-16"),
        )])
        assert multimodal.parse_id3_tags(u16_comm)["comment"] == "hello"
        got = multimodal.parse_id3_tags(t3)
        assert got["title"] == "Night Drive"
        assert got["artist"] == "Café Trio"
        assert got["year"] == "1987"
        assert got["comment"] == "a test comment"
        t4 = tag([frame(b"TDRC", b"\x032024-05", v24=True)], ver=4)
        assert multimodal.parse_id3_tags(t4) == {"year": "2024-05"}
        assert multimodal.parse_id3_tags(b"no tag here") is None
        assert multimodal.parse_id3_tags(b"ID3\x03\x00") is None
        # Spark stage: tagged + untagged rows
        df = spark.createDataFrame(
            [("a.mp3", bytearray(t3)), ("b.mp3", bytearray(b"\xff\xfb"))],
            "path string, content binary",
        ).coalesce(1)
        rows = {r["path"]: r
                for r in multimodal.extract_audio_tags(df).collect()}
        assert rows["a.mp3"]["artist"] == "Café Trio"
        assert rows["b.mp3"]["title"] is None

    def test_set_jaccard_matches_bruteforce(self, spark):
        """Generic core on integer sets: exact vs python brute force."""
        import random

        rng = random.Random(3)
        rows = [(f"s{i}", sorted(rng.sample(range(40), rng.randint(3, 12))))
                for i in range(30)]
        from ayeaye_spark.operators.dedup import set_jaccard_pairs

        df = spark.createDataFrame(rows, "sid string, items array<int>")
        got = {(r["sid_a"], r["sid_b"]): round(r["jaccard"], 9)
               for r in set_jaccard_pairs(df, "sid", "items", threshold=0.3).collect()}
        expect = {}
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                sa, sb = set(rows[i][1]), set(rows[j][1])
                jac = len(sa & sb) / len(sa | sb)
                if jac >= 0.3:
                    a, b = sorted((rows[i][0], rows[j][0]))
                    expect[(a, b)] = round(jac, 9)
        assert got == expect and len(expect) >= 2

    def test_prefix_filter_matches_index_path(self, spark):
        """method='prefix' (AllPairs/PPJoin candidates: prefix + length
        + positional filters) is LOSSLESS — identical output to the full
        inverted-index path on adversarial sets: duplicates-in-input,
        singletons, near-identical pairs, heavy common elements, blocks."""
        import random

        from ayeaye_spark.operators.dedup import set_jaccard_pairs

        rng = random.Random(7)
        rows = []
        for i in range(60):
            base = sorted(rng.sample(range(25), rng.randint(1, 10)))
            rows.append((f"s{i}", "even" if i % 2 == 0 else "odd",
                         base + [99] * (i % 2)))  # 99 = hot element in odd rows
        rows.append(("twin_a", "even", [1, 2, 3, 4, 5]))
        rows.append(("twin_b", "even", [1, 2, 3, 4, 5]))
        df = spark.createDataFrame(rows, "sid string, blk string, items array<int>")
        for thr, blk in ((0.3, None), (0.6, None), (0.5, "blk")):
            idx = set_jaccard_pairs(df, "sid", "items", threshold=thr,
                                    block_col=blk)
            pfx = set_jaccard_pairs(df, "sid", "items", threshold=thr,
                                    block_col=blk, method="prefix")
            ri = sorted(map(tuple, idx.collect()))
            rp = sorted(map(tuple, pfx.collect()))
            assert ri == rp and len(ri) >= 1, (thr, blk)

    def test_prefix_filter_boundary_exact_thresholds(self, spark):
        """Regression (round-6 advice): the positional bound used to be
        ceil(t/(1+t)*(sa+sb)) in doubles, which rounds ABOVE the true
        integer for t=0.4 (ceil(0.4/1.4*7)=3 vs true 2) and silently
        dropped pairs whose Jaccard equals the threshold exactly.  All
        bounds are now integer-exact over ppm=round(t*1e6); pairs that
        sit EXACTLY on the threshold must survive every filter."""
        from ayeaye_spark.operators.dedup import set_jaccard_pairs

        cases = {
            # threshold -> (set_a, set_b) with jaccard == threshold
            0.2: ([1, 2], [1, 3, 4, 5]),              # 1/5
            0.4: ([1, 2, 3], [1, 2, 4, 5]),           # 2/5
            0.8: ([1, 2, 3, 4, 5], [1, 2, 3, 4]),     # 4/5
            0.9: (list(range(10)), list(range(9))),   # 9/10
        }
        for thr, (sa, sb) in cases.items():
            df = spark.createDataFrame(
                [("a", sa), ("b", sb), ("far", [777, 888, 999])],
                "sid string, items array<int>")
            pfx = sorted(map(tuple, set_jaccard_pairs(
                df, "sid", "items", threshold=thr, method="prefix").collect()))
            idx = sorted(map(tuple, set_jaccard_pairs(
                df, "sid", "items", threshold=thr).collect()))
            assert pfx == idx, thr
            assert [(p[0], p[1]) for p in pfx] == [("a", "b")], thr
            assert abs(pfx[0][2] - thr) < 1e-12, thr

    def test_prefix_filter_rejects_lossy_knob(self, spark):
        import pytest

        from ayeaye_spark.operators.dedup import set_jaccard_pairs

        df = spark.createDataFrame([("a", [1, 2])], "sid string, items array<int>")
        with pytest.raises(ValueError, match="lossless"):
            set_jaccard_pairs(df, "sid", "items", method="prefix",
                              max_item_df=5).collect()
        with pytest.raises(ValueError, match="method"):
            set_jaccard_pairs(df, "sid", "items", method="ppjoin").collect()

    def test_weighted_jaccard_matches_bruteforce(self, spark):
        """Unigram tf multiset-Jaccard vs a python Counter brute force,
        including a same-vocabulary/different-emphasis pair that
        distinct-set Jaccard scores as 1.0."""
        from collections import Counter

        from ayeaye_spark.operators.dedup import weighted_jaccard_pairs

        rows = [
            (1, "a a a a b"),          # heavy a
            (2, "a b b b b"),          # heavy b — set-jaccard(1,2)=1.0
            (3, "a a a a b"),          # exact dup of 1
            (4, "c d e f g"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        for kwargs in ({}, {"max_item_df": 4}):
            got = {(r["doc_id_a"], r["doc_id_b"]): round(r["weighted_jaccard"], 9)
                   for r in weighted_jaccard_pairs(
                       df, "doc_id", "text", n=1, threshold=0.2, **kwargs
                   ).collect()}
            expect = {}
            for i in range(len(rows)):
                for j in range(i + 1, len(rows)):
                    ca = Counter((rows[i][1] or "").split())
                    cb = Counter((rows[j][1] or "").split())
                    num = sum(min(ca[t], cb[t]) for t in ca.keys() & cb.keys())
                    den = sum(ca.values()) + sum(cb.values()) - num
                    if den and num / den >= 0.2:
                        expect[(rows[i][0], rows[j][0])] = round(num / den, 9)
            assert got == expect, kwargs
            assert got[(1, 3)] == 1.0 and got[(1, 2)] == 0.25

    def test_bm25_topk_matches_bruteforce(self, spark):
        """Exact rational BM25 (k1=6/5, b=3/4, log-free rational idf)
        vs a python integer reference — same arithmetic, same ranking,
        same tie-break."""
        from ayeaye_spark.operators.text import bm25_topk

        rows = [
            (1, "rare spark spark join"),
            (2, "spark join join join window"),
            (3, "rare rare rare"),
            (4, "window window window window window window"),
            (5, "other words only here"),
            (6, ""),
            (7, None),
        ]
        terms = ["rare", "spark", "window"]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = [(r["doc_id"], r["n_terms_matched"], r["bm25_score"])
               for r in bm25_topk(df, "doc_id", "text", terms, topk=4).collect()]

        docs = {i: (t or "").lower().split() for i, t in rows}
        N = len(rows)
        T = sum(len(v) for v in docs.values())
        dfreq = {t: sum(1 for v in docs.values() if t in v) for t in terms}
        scores = {}
        for i, v in docs.items():
            contribs = []
            for t in terms:
                tf = v.count(t)
                if tf == 0:
                    continue
                idf = ((2 * (N - dfreq[t]) + 1) * 1_000_000) // (2 * dfreq[t] + 1)
                sat = (44 * T * tf * 1_000_000) // (
                    20 * T * tf + 6 * T + 18 * len(v) * N)
                contribs.append(idf * sat)
            if contribs:
                scores[i] = (len(contribs), sum(contribs))
        expect = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:4]
        assert got == [(i, n, s) for i, (n, s) in expect]
        # multi-term match with the rare term out-ranks everything;
        # repeating a term saturates (doc 4's six 'window's don't win)
        assert got[0][0] == 1 and got[0][1] == 2
        assert {i for i, _n, _s in got} >= {1, 2, 3}

    def test_top_collocations_matches_bruteforce(self, spark):
        """PMI ratio and ranking vs a python reference with the same
        3-op double arithmetic and tie-break."""
        from collections import Counter

        from ayeaye_spark.operators.text import top_collocations

        rows = [
            (1, "new york is big new york is old"),
            (2, "the cat and the dog and the bird"),
            (3, "new york new york the cat"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = [(r["w1"], r["w2"], r["pair_count"], r["pmi_ratio"])
               for r in top_collocations(df, "text", k=5, min_count=2).collect()]

        bg: Counter = Counter()
        for _, t in rows:
            tk = (t or "").lower().split()
            bg.update(zip(tk, tk[1:]))
        T = sum(bg.values())
        c1, c2 = Counter(), Counter()
        for (a, b), n in bg.items():
            c1[a] += n
            c2[b] += n
        scored = [
            (a, b, n, (float(n) * float(T)) / (float(c1[a]) * float(c2[b])))
            for (a, b), n in bg.items() if n >= 2
        ]
        expect = sorted(scored, key=lambda t: (-t[3], t[0], t[1]))[:5]
        assert got == expect
        assert ("new", "york") in {(a, b) for a, b, _n, _s in got}

    def test_bpe_top_merges_matches_reference(self, spark):
        """Learned merges match a pure python Sennrich-style BPE
        (pair stats weighted by word frequency, greedy left-to-right
        merge application, count-desc/pair-asc tie-break)."""
        from collections import Counter

        from ayeaye_spark.operators.text import bpe_top_merges

        rows = [
            (1, "low lower lowest low low"),
            (2, "newer newest new low"),
            (3, "wider wide widest newer"),
            (4, ""),
            (5, None),
            (6, "aaaa aa baaab"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = [(r["merge_rank"], r["left"], r["right"], r["pair_count"])
               for r in bpe_top_merges(df, "text", n_merges=6)
               .orderBy("merge_rank").collect()]

        wf = Counter(w for _, t in rows for w in (t or "").lower().split())
        vocab = {w: list(w) for w in wf}
        expect = []
        for rank in range(6):
            stats: Counter = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    stats[(a, b)] += wf[w]
            if not stats:
                break
            (l, r), cnt = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if cnt < 2:
                break
            expect.append((rank, l, r, cnt))
            for w, syms in vocab.items():
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = l + r
                    else:
                        out.append(s)
                vocab[w] = out
        assert got == expect
        assert len(got) >= 3  # the corpus has learnable structure

    def test_weighted_median_matches_bruteforce(self, spark):
        rows = [
            ("a", 10, 1), ("a", 20, 1), ("a", 30, 100),   # weight-skewed
            ("b", 5, 3), ("b", 7, 3),                     # tie at half
            ("c", 1, 0), ("c", 2, None), ("c", None, 5),  # degenerate
            ("d", 9, 2),
        ]
        df = spark.createDataFrame(rows, "g string, v int, w int")
        got = {r["g"]: (r["weighted_median"], r["total_weight"])
               for r in relational.weighted_median(df, "g", "v", "w").collect()}
        # a: W=102, half=51 -> 30 is the first value reaching it
        # b: W=6, 2*cum(5)=6 >= 6 -> lower median 5
        # c: no positive-weight non-null values -> no row
        assert got == {"a": (30, 102), "b": (5, 6), "d": (9, 2)}

    def test_weighted_median_float_guard_and_bucketed_path(self, spark):
        import pytest as _pytest

        rows = [("a", float(v), w) for v, w in
                [(10, 1), (20, 1), (30, 100), (10.5, 7), (29.5, 4)]]
        rows += [("b", 5.0, 3), ("b", 7.0, 3)]
        dbl = spark.createDataFrame(rows, "g string, v double, w int")
        # double value column without bucket_width -> loud refusal
        # (the histogram would re-become corpus-sized)
        with _pytest.raises(ValueError, match="bucket_width"):
            relational.weighted_median(dbl, "g", "v", "w")
        # bucketed locate-then-rescan is still EXACT: equals brute force
        got = {r["g"]: (r["weighted_median"], r["total_weight"])
               for r in relational.weighted_median(
                   dbl, "g", "v", "w", bucket_width=8.0).collect()}
        # a: W=113, half=56.5; cum: 10->1, 10.5->8, 20->9, 29.5->13,
        # 30->113 -> crossing value 30
        assert got == {"a": (30.0, 113), "b": (5.0, 6)}
        # crossing INSIDE a bucket (not at its first value): tight widths
        for bw in (0.7, 2.0, 1000.0):
            g2 = {r["g"]: r["weighted_median"]
                  for r in relational.weighted_median(
                      dbl, "g", "v", "w", bucket_width=bw).collect()}
            assert g2 == {"a": 30.0, "b": 5.0}, bw

    def test_weighted_median_negative_weight_raises(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame(
            [("a", 1, 2), ("a", 2, -3)], "g string, v int, w int"
        )
        with _pytest.raises(Exception, match="negative weight"):
            relational.weighted_median(df, "g", "v", "w").collect()

    def test_duplicate_sentence_profile(self, spark):
        from ayeaye_spark.operators.text import duplicate_sentence_profile

        rows = [
            (1, "The cat sat. The DOG ran!  the cat   sat?"),
            (2, "the cat sat. Something unique here."),
            (3, "Completely different text"),
            (4, ""),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: (r["n_sentences"], r["shared_sentences"],
                             r["shared_ppm"])
               for r in duplicate_sentence_profile(df, "doc_id", "text").collect()}
        # doc 1: 3 sentences, 'the cat sat' occurs twice and is shared
        # with doc 2 (normalization collapses case/whitespace)
        assert got[1] == (3, 2, 666666)
        assert got[2] == (2, 1, 500000)
        assert got[3] == (1, 0, 0)
        assert got[4] == (0, 0, 0) and got[5] == (0, 0, 0)

    def test_bpe_apply_matches_reference(self, spark):
        """P.bpe_piece_count under trained merges == the python greedy
        merge application, including the 'aaaa' -> [aa, aa] run case."""
        from ayeaye_spark.functions import portable as P
        from ayeaye_spark.operators.text import bpe_top_merges

        rows = [
            (1, "low lower lowest low low"),
            (2, "newer newest new low aaaa"),
            (3, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        merges = [(r["left"], r["right"]) for r in
                  bpe_top_merges(df, "text", n_merges=4)
                  .orderBy("merge_rank").collect()]
        assert merges  # corpus has learnable structure
        got = {r["doc_id"]: r["np"] for r in df.select(
            "doc_id",
            F.expr(P.bpe_piece_count("coalesce(text, '')", merges, P.SPARK))
            .cast("long").alias("np"),
        ).collect()}

        def apply_word(w):
            syms = list(w)
            for l, rt in merges:
                out = []
                for s in syms:
                    if out and out[-1] == l and s == rt:
                        out[-1] = l + rt
                    else:
                        out.append(s)
                syms = out
            return len(syms)

        expect = {i: sum(apply_word(w) for w in (t or "").lower().split())
                  for i, t in rows}
        assert got == expect and got[3] == 0

    def test_bpe_apply_memo_cap_bounded_and_identical(self, spark):
        """Adversarial all-distinct-words corpus: a tiny memo_cap keeps
        the per-task dict bounded while the output stays EQUAL to the
        uncapped kernel (the memo is a cache, never semantics)."""
        from ayeaye_spark.operators.text import (
            bpe_apply_piece_counts, bpe_top_merges,
        )

        # every word distinct -> zero memo reuse, worst case for growth
        rows = [(i, " ".join(f"w{i}x{j}" for j in range(12)))
                for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        merges = [(r["left"], r["right"]) for r in
                  bpe_top_merges(df, "text", n_merges=3)
                  .orderBy("merge_rank").collect()]
        uncapped = sorted(map(tuple, bpe_apply_piece_counts(
            df, "doc_id", "text", merges).collect()))
        capped = sorted(map(tuple, bpe_apply_piece_counts(
            df, "doc_id", "text", merges, memo_cap=16).collect()))
        assert capped == uncapped
        # and the cap actually binds in-process: replay the kernel shape
        memo, cap = {}, 16
        for _, t in rows:
            for w in t.split():
                if w not in memo and len(memo) < cap:
                    memo[w] = 1
        assert len(memo) == cap  # flat at the cap, not corpus-sized

    def test_vocab_coverage_matches_bruteforce(self, spark):
        """Class-closed-form coverage equals naive per-token ranking."""
        from collections import Counter

        from ayeaye_spark.operators.text import vocab_coverage

        rows = [(1, "a a a a b b b c c d e f"), (2, "a b c g g"), (3, None)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["pct"]: (r["vocab_size"], r["covered_occurrences"],
                          r["total_occurrences"])
               for r in vocab_coverage(df, "text", pcts=(50, 90, 99)).collect()}

        cnt = Counter(t for _, s in rows for t in (s or "").lower().split())
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        T = sum(cnt.values())
        expect = {}
        for p in (50, 90, 99):
            target = (T * p + 99) // 100
            cum = 0
            for rn, (_t, c) in enumerate(ranked, 1):
                cum += c
                if cum >= target:
                    expect[p] = (rn, cum, T)
                    break
        assert got == expect

    def test_bigram_coherence_matches_bruteforce(self, spark):
        """Mean bigram transition probability in integer ppm vs a pure
        python reference over the same rolling hashes."""
        from collections import Counter

        from ayeaye_spark.functions.portable import PRIME
        from ayeaye_spark.functions.portable_py import char_hash
        from ayeaye_spark.operators.text import bigram_coherence

        rows = [
            (1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "on the mat the cat"),
            (4, "zebra"),          # 1 token: no bigrams
            (5, ""),               # empty
            (6, None),             # null text
            (7, "the the the the"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: (r["n_bigrams"], r["coherence_ppm"])
               for r in bigram_coherence(df, "doc_id", "text").collect()}

        docs = {i: (t or "").lower().split() for i, t in rows}
        bg, c1, c12 = {}, Counter(), Counter()
        for i, toks in docs.items():
            hs = [char_hash(t) for t in toks]
            pairs = [(hs[k], (hs[k] * 31 + hs[k + 1]) % PRIME)
                     for k in range(len(hs) - 1)]
            bg[i] = pairs
            for h1, h12 in pairs:
                c1[h1] += 1
                c12[h12] += 1
        expect = {}
        for i, pairs in bg.items():
            if not pairs:
                expect[i] = (0, 0)
                continue
            total = sum(c12[h12] * 1_000_000 // c1[h1] for h1, h12 in pairs)
            expect[i] = (len(pairs), total // len(pairs))
        assert got == expect
        # doc 7 is maximally self-predictable ('the'->'the' every time
        # it appears in doc 7, but corpus 'the' goes many ways)
        assert got[4] == (0, 0) and got[5] == (0, 0) and got[6] == (0, 0)

    def test_bm25_empty_terms_raises(self, spark):
        """An empty query_terms list must raise a clear ValueError, not
        an opaque F.expr parse error from empty join strings (round-7
        advice)."""
        import pytest as _pytest

        from ayeaye_spark.operators.text import bm25_topk

        df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
        with _pytest.raises(ValueError, match="query_terms must be non-empty"):
            bm25_topk(df, "doc_id", "text", [], topk=3)

    def test_bm25_overflow_guards_fire(self, spark):
        """Both int64 envelope guards raise loudly on fabricated corpus
        stats instead of wrapping into silent wrong rankings (round-8
        advice: the idf*sat product was unguarded)."""
        import pytest as _pytest

        from ayeaye_spark.operators.text import _bm25_contrib_expr

        cols = "_dl long, _tf0 long, _df0 long, _n_docs long, _total_toks long"
        expr = _bm25_contrib_expr(0)

        def run(dl, tf, dfq, n, t):
            return spark.createDataFrame(
                [(dl, tf, dfq, n, t)], cols
            ).selectExpr(f"{expr} AS c").collect()[0]["c"]

        # in-envelope: exact product, no raise
        assert run(100, 3, 5, 1000, 100_000) > 0
        # guard (a): T * tf past ~2.1e11 -> saturation numerator overflow
        with _pytest.raises(Exception, match="T \\* tf exceeds"):
            run(100, 1000, 5, 1000, 300_000_000_000)
        # guard (b): rare term (df=1) in a 10^10-doc corpus -> idf ~ 6.7e15,
        # idf * sat > 2^63 even though T*tf is tiny
        with _pytest.raises(Exception, match="idf \\* saturation"):
            run(100, 1, 1, 10_000_000_000, 100_000_000_000)
        # boundary sanity: the guard uses the row's ACTUAL saturation —
        # a tiny saturation keeps a large idf in-envelope (no false trip)
        assert run(10_000_000_000, 1, 1, 2_000_000, 100_000_000_000) >= 0

    def test_tfidf_cosine_matches_bruteforce(self, spark):
        """Unigram tf-idf cosine vs a python brute force using the same
        integer-scaled log-free weights; the max_item_df knob must not
        change any returned value."""
        import math
        from collections import Counter

        from ayeaye_spark.operators.dedup import tfidf_cosine_pairs

        rows = [
            (1, "alpha beta gamma alpha"),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma alpha"),
            (4, "epsilon zeta eta theta"),
            (5, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        tfs = {i: Counter((t or "").split()) for i, t in rows}
        dfreq = Counter(t for c in tfs.values() for t in c)
        w = {i: {t: (tf * 1_000_000) // dfreq[t] for t, tf in c.items()}
             for i, c in tfs.items()}
        expect = {}
        for i in range(1, 6):
            for j in range(i + 1, 6):
                dot = sum(w[i][t] * w[j][t] for t in w[i].keys() & w[j].keys())
                na2 = sum(v * v for v in w[i].values())
                nb2 = sum(v * v for v in w[j].values())
                if na2 and nb2:
                    cos = dot / math.sqrt(float(na2) * float(nb2))
                    if cos >= 0.4:
                        expect[(i, j)] = round(cos, 12)
        for kwargs in ({}, {"max_item_df": 4}):
            got = {(r["doc_id_a"], r["doc_id_b"]): round(r["cosine"], 12)
                   for r in tfidf_cosine_pairs(
                       df, "doc_id", "text", n=1, threshold=0.4, **kwargs
                   ).collect()}
            assert got == expect and got[(1, 3)] == 1.0, kwargs

    def test_two_table_jaccard_join_matches_bruteforce(self, spark):
        """R-S join: cross-table pairs only, id collisions between the
        tables harmless, index and prefix methods identical."""
        from ayeaye_spark.operators.dedup import ngram_jaccard_join

        left = spark.createDataFrame([
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different left content here today"),
            (3, "shared paragraph about spark shuffle behavior"),
        ], "doc_id int, text string")
        right = spark.createDataFrame([
            (1, "the quick brown fox jumps over the lazy dog"),   # id collides
            (9, "shared paragraph about spark shuffle behavior"),
            (7, "unrelated right side row"),
        ], "doc_id int, text string")

        def brute(t):
            import itertools

            def sh(s):
                toks = s.lower().split()
                return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}

            out = {}
            for (li, lt), (ri, rt) in itertools.product(
                    [(r[0], r[1]) for r in left.collect()],
                    [(r[0], r[1]) for r in right.collect()]):
                a, b = sh(lt), sh(rt)
                if a | b:
                    j = len(a & b) / len(a | b)
                    if j >= t:
                        out[(li, ri)] = round(j, 9)
            return out

        for method in ("index", "prefix"):
            got = {(r["doc_id_a"], r["doc_id_b"]): round(r["jaccard"], 9)
                   for r in ngram_jaccard_join(
                       left, right, "doc_id", "doc_id", "text",
                       n=3, threshold=0.5, method=method).collect()}
            assert got == brute(0.5), method
            assert (1, 1) in got and (3, 9) in got

    def test_containment_prefix_matches_index_path(self, spark):
        """Containment's one-sided prefix filter (smaller-side prefix
        probes the larger side's full postings) is lossless: identical
        output to the full inverted-index path, including the
        subset-inside-superset pairs Jaccard misses."""
        from ayeaye_spark.operators.dedup import containment_pairs

        quote = "the quick brown fox jumps over the lazy dog tonight"
        rows = [
            ("small", quote),
            ("big", "prologue text here " + quote + " and a very long epilogue "
             "with many extra words that dilute jaccard entirely ok"),
            ("other", "completely unrelated content about spark shuffles"),
            ("twin1", "alpha beta gamma delta epsilon"),
            ("twin2", "alpha beta gamma delta epsilon"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        for ppm in (900_000, 600_000):
            idx = containment_pairs(df, "doc_id", "text", n=3,
                                    min_containment_ppm=ppm)
            pfx = containment_pairs(df, "doc_id", "text", n=3,
                                    min_containment_ppm=ppm, method="prefix")
            ri = sorted(map(tuple, idx.collect()))
            rp = sorted(map(tuple, pfx.collect()))
            assert ri == rp and len(ri) >= 2, (ppm, ri, rp)


class TestPngDecode:
    """Real 8-bit PNG pixel decode via stdlib zlib + hand-undone
    scanline filters — and cross-format dHash parity with BMP."""

    @staticmethod
    def _png(px, filters=None):
        """Encode a (h, w, ch) uint8 array as a real PNG, one filter
        byte per scanline (default all-0/None; pass a list to exercise
        Sub/Up/Average/Paeth encoding paths)."""
        import struct
        import zlib

        import numpy as np

        h, w, ch = px.shape
        ctype = {1: 0, 3: 2, 4: 6}[ch]

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))

        filters = filters or [0] * h
        raw = bytearray()
        for r in range(h):
            ft = filters[r]
            line = px[r].reshape(-1).astype(np.int32)
            prev = (px[r - 1].reshape(-1).astype(np.int32)
                    if r else np.zeros(w * ch, np.int32))
            enc = np.zeros(w * ch, np.int32)
            for i in range(w * ch):
                a = int(px[r].reshape(-1)[i - ch]) if i >= ch else 0
                up = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = up
                elif ft == 3:
                    pred = (a + up) >> 1
                else:
                    pa, pb, pc = abs(up - c), abs(a - c), abs(a + up - 2 * c)
                    pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                enc[i] = (int(line[i]) - pred) & 0xFF
            raw.append(ft)
            raw.extend(enc.astype(np.uint8).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    def test_round_trip_all_filters(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        rng = np.random.RandomState(7)
        px = rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
        for filters in ([0] * 6, [1] * 6, [2] * 6, [3] * 6, [4] * 6,
                        [0, 1, 2, 3, 4, 2]):
            got = _png_pixel_array(self._png(px, filters))
            assert got is not None, filters
            out, w, h, ch = got
            assert (w, h, ch) == (5, 6, 3)
            assert (out.reshape(6, 5, 3) == px).all(), filters

    def test_gray_and_rgba(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import decode_png_pixels

        g = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
        d = decode_png_pixels(self._png(g))
        assert d["channels"] == 1 and d["mean_intensity"] == float(g.mean())
        rgba = np.arange(96, dtype=np.uint8).reshape(4, 6, 4)
        d4 = decode_png_pixels(self._png(rgba))
        assert d4["channels"] == 4 and d4["width"] == 6

    def test_dhash_cross_format_bmp_png(self):
        """The SAME image saved as BMP and as PNG must hash
        identically — the cross-format near-dup promise."""
        import numpy as np

        from ayeaye_spark.operators.multimodal import dhash64

        rng = np.random.RandomState(3)
        base = np.linspace(0, 200, 36, dtype=np.uint8)
        px = np.tile(base, (24, 1))[:, :, None].repeat(3, axis=2)
        px = (px.astype(np.int32)
              + rng.randint(0, 12, px.shape)).clip(0, 255).astype(np.uint8)
        h_bmp = dhash64(TestImageNearDup._bmp(px))
        h_png = dhash64(self._png(px, filters=[4] * 24))
        assert h_bmp is not None and h_bmp == h_png

    def test_unsupported_variants_fall_back(self):
        from ayeaye_spark.operators.multimodal import (
            _png_pixel_array, sample_decode,
        )

        assert _png_pixel_array(b"\x89PNG\r\n\x1a\nnot-really") is None
        assert _png_pixel_array(b"BM123") is None
        # sample_decode on a real PNG now fills true mean_intensity
        import numpy as np

        px = np.full((5, 5, 3), 100, dtype=np.uint8)
        d = sample_decode(self._png(px))
        assert d["format"] == "png" and d["mean_intensity"] == 100.0


class TestBmpPalettedAndRle8:
    """Round-11 BMP variants: 8-bit paletted (uncompressed + BI_RLE8)
    and the bottom-up orientation flip (real BMPs store positive-height
    bitmaps bottom-up; without the flip, dHash of the same image saved
    as BMP vs PNG/JPEG disagreed)."""

    @staticmethod
    def _bmp8(idx, palette, rle=False):
        """(h, w) uint8 index array + (n, 3) BGR palette -> real 8-bit
        BMP, bottom-up rows; ``rle=True`` emits BI_RLE8 with a mix of
        encoded runs and absolute runs."""
        import struct

        h, w = idx.shape
        pal = b"".join(bytes([b_, g, r, 0]) for b_, g, r in palette)
        if not rle:
            stride = ((w + 3) // 4) * 4
            body = b"".join(
                bytes(idx[r]) + b"\0" * (stride - w)
                for r in reversed(range(h))
            )
            comp = 0
        else:
            out = bytearray()
            for r in reversed(range(h)):  # bottom-up scan order
                row = idx[r]
                x = 0
                while x < w:
                    run = 1
                    while x + run < w and row[x + run] == row[x] and run < 255:
                        run += 1
                    if run >= 3:
                        out += bytes([run, row[x]])
                        x += run
                    else:  # literal span until the next >=3 run
                        start = x
                        while x < w and x - start < 252:
                            r2 = 1
                            while (x + r2 < w and row[x + r2] == row[x]
                                   and r2 < 255):
                                r2 += 1
                            if r2 >= 3:
                                break
                            x += r2
                        span = x - start
                        if span >= 3:  # absolute mode needs count >= 3
                            out += bytes([0, span]) + bytes(row[start:x])
                            if span & 1:
                                out += b"\0"  # word padding
                        else:  # short spans: encoded 1-runs (always legal)
                            for i in range(start, x):
                                out += bytes([1, row[i]])
                out += bytes([0, 0])  # end of line
            out += bytes([0, 1])  # end of bitmap
            body = bytes(out)
            comp = 1
        data_off = 54 + len(pal)
        hdr = (
            b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, comp,
                          len(body), 0, 0, len(palette), 0)
        )
        return hdr + pal + body

    def test_paletted_uncompressed_roundtrip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        rng = np.random.RandomState(5)
        idx = rng.randint(0, 16, size=(6, 7), dtype=np.uint8)
        palette = [(i * 16, 255 - i * 16, i * 8) for i in range(16)]
        got = _bmp_pixel_rows(self._bmp8(idx, palette))
        assert got is not None
        px, w, rows = got
        assert (w, rows) == (7, 6)
        want = np.array(palette, dtype=np.uint8)[idx.reshape(-1)]
        assert (px.reshape(6, 7, 3) == want.reshape(6, 7, 3)).all()

    def test_rle8_matches_uncompressed(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        rng = np.random.RandomState(9)
        # long runs + noisy spans exercise encoded AND absolute modes
        idx = np.concatenate([
            np.full((4, 20), 7, dtype=np.uint8),
            rng.randint(0, 12, size=(4, 20), dtype=np.uint8),
        ])
        palette = [(i * 20 % 256, i * 7 % 256, i * 13 % 256) for i in range(12)]
        plain = _bmp_pixel_rows(self._bmp8(idx, palette))
        rle = _bmp_pixel_rows(self._bmp8(idx, palette, rle=True))
        assert plain is not None and rle is not None
        assert (plain[0] == rle[0]).all()
        assert plain[1:] == rle[1:]

    def test_rle8_delta_escape_leaves_zero_cells(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        # hand-built stream: run of 2x color 1, delta +2/+1, run 3x2
        body = bytes([2, 1, 0, 2, 2, 1, 3, 2, 0, 0, 0, 1])
        pal = bytes([0, 0, 0, 0, 10, 20, 30, 0, 40, 50, 60, 0])
        data_off = 54 + len(pal)
        hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
               + struct.pack("<IiiHHIIiiII", 40, 8, 3, 1, 8, 1,
                             len(body), 0, 0, 3, 0))
        got = _bmp_pixel_rows(hdr + pal + body)
        assert got is not None
        px, w, rows = got
        arr = px.reshape(3, 8, 3)
        # stored bottom-up: the written row is the BOTTOM row -> arr[2]
        assert (arr[2][0] == (10, 20, 30)).all()
        assert (arr[2][1] == (10, 20, 30)).all()
        assert (arr[2][2] == (0, 0, 0)).all()  # delta-skipped -> index 0
        assert (arr[1][4] == (40, 50, 60)).all()  # after +2,+1 delta

    def test_hostile_rle_returns_none(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        pal = bytes(4 * 3)
        data_off = 54 + len(pal)

        def bmp_with(body):
            hdr = (b"BM"
                   + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
                   + struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 8, 1,
                                 len(body), 0, 0, 3, 0))
            return hdr + pal + body

        # run overflowing the row
        assert _bmp_pixel_rows(bmp_with(bytes([200, 1, 0, 1]))) is None
        # absolute run past end of data
        assert _bmp_pixel_rows(bmp_with(bytes([0, 50, 1, 2]))) is None
        # palette index out of range
        assert _bmp_pixel_rows(bmp_with(bytes([2, 3, 0, 1]))) is None

    @staticmethod
    def _bmp4(idx, palette, rle=False):
        """(h, w) uint8 index array (values < 16) + (n, 3) BGR palette
        -> real 4-bit BMP: packed nibbles (BI_RGB) or BI_RLE4 encoded
        runs (pairs as count-2 runs with alternating nibbles)."""
        import struct

        h, w = idx.shape
        pal = b"".join(bytes([b_, g, r, 0]) for b_, g, r in palette)
        if not rle:
            stride = ((((w + 1) // 2) + 3) // 4) * 4
            body = bytearray()
            for r in reversed(range(h)):  # bottom-up
                row = bytearray()
                for x in range(0, w, 2):
                    hi = int(idx[r, x]) << 4
                    lo = int(idx[r, x + 1]) if x + 1 < w else 0
                    row.append(hi | lo)
                row += b"\0" * (stride - len(row))
                body += row
            comp = 0
        else:
            body = bytearray()
            for r in reversed(range(h)):
                for x in range(0, w, 2):
                    if x + 1 < w:
                        body += bytes([2, (int(idx[r, x]) << 4)
                                       | int(idx[r, x + 1])])
                    else:
                        body += bytes([1, int(idx[r, x]) << 4])
                body += bytes([0, 0])  # end of line
            body += bytes([0, 1])  # end of bitmap
            comp = 2
        data_off = 54 + len(pal)
        hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                   data_off)
               + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 4, comp,
                             len(body), 0, 0, len(palette), 0))
        return hdr + pal + bytes(body)

    def test_4bit_packed_roundtrip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        rng = np.random.RandomState(17)
        idx = rng.randint(0, 16, size=(6, 9), dtype=np.uint8)  # odd width
        palette = [(i * 16, 255 - i * 16, i * 8) for i in range(16)]
        got = _bmp_pixel_rows(self._bmp4(idx, palette))
        assert got is not None
        px, w, rows = got
        assert (w, rows) == (9, 6)
        want = np.array(palette, dtype=np.uint8)[idx.reshape(-1)]
        assert (px.reshape(6, 9, 3) == want.reshape(6, 9, 3)).all()

    def test_rle4_matches_packed(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        rng = np.random.RandomState(19)
        for w in (8, 9):  # even and odd widths
            idx = rng.randint(0, 12, size=(5, w), dtype=np.uint8)
            palette = [(i * 20 % 256, i * 7 % 256, i * 13 % 256)
                       for i in range(12)]
            plain = _bmp_pixel_rows(self._bmp4(idx, palette))
            rle = _bmp_pixel_rows(self._bmp4(idx, palette, rle=True))
            assert plain is not None and rle is not None
            assert (plain[0] == rle[0]).all() and plain[1:] == rle[1:]

    def test_rle4_absolute_and_delta_escapes(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        # absolute run of 5 nibbles [1,2,3,1,2] (3 bytes + 1 pad),
        # then delta +1/+1, then encoded run 4 x palette 2
        body = bytes([0, 5, 0x12, 0x31, 0x20, 0x00,
                      0, 2, 1, 1,
                      4, 0x22,
                      0, 0, 0, 1])
        pal = bytes([0, 0, 0, 0, 10, 20, 30, 0, 40, 50, 60, 0,
                     70, 80, 90, 0])
        data_off = 54 + len(pal)
        hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                   data_off)
               + struct.pack("<IiiHHIIiiII", 40, 10, 2, 1, 4, 2,
                             len(body), 0, 0, 4, 0))
        got = _bmp_pixel_rows(hdr + pal + body)
        assert got is not None
        px, w, rows = got
        arr = px.reshape(2, 10, 3)
        bottom, top = arr[1], arr[0]  # stored bottom-up, returned flipped
        want_pal = np.array([(0, 0, 0), (10, 20, 30), (40, 50, 60),
                             (70, 80, 90)], dtype=np.uint8)
        assert (bottom[:5] == want_pal[[1, 2, 3, 1, 2]]).all()
        assert (bottom[5] == want_pal[0]).all()  # delta skip stays 0
        assert (top[6:10] == want_pal[2]).all()  # run after +1/+1 delta

    def test_hostile_rle4_returns_none(self):
        import struct

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        pal = bytes(4 * 3)
        data_off = 54 + len(pal)

        def bmp_with(body):
            hdr = (b"BM"
                   + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                 data_off)
                   + struct.pack("<IiiHHIIiiII", 40, 4, 2, 1, 4, 2,
                                 len(body), 0, 0, 3, 0))
            return hdr + pal + body

        assert _bmp_pixel_rows(bmp_with(bytes([200, 0x11, 0, 1]))) is None
        assert _bmp_pixel_rows(bmp_with(bytes([0, 50, 0x12, 0x30]))) is None
        # palette index out of range (3-entry palette, nibble 0xF)
        assert _bmp_pixel_rows(bmp_with(bytes([2, 0xFF, 0, 1]))) is None

    def test_os2_core_header_stays_header_only(self):
        """BITMAPCOREHEADER (hdr_size=12) stores 16-bit width/height and
        3-byte RGBTRIPLE palette entries — every BITMAPINFOHEADER offset
        would mis-parse, so the pixel reader must return None (garbled
        palette colors feeding dhash/mean are worse than header-only)."""
        import struct

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        # 2x2 8-bit OS/2 bitmap: core header, RGBTRIPLE palette
        pal = bytes([10, 20, 30] * 2)  # two 3-byte entries
        data_off = 14 + 12 + len(pal)
        body = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # 2 padded rows
        core = (b"BM"
                + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
                + struct.pack("<IHHHH", 12, 2, 2, 1, 8))
        assert _bmp_pixel_rows(core + pal + body) is None

    def test_bottom_up_orientation_corrected(self):
        """Top row of the array must come back as the top row — i.e.
        the reader undoes bottom-up storage (dHash orientation)."""
        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        idx = np.array([[1, 1], [0, 0]], dtype=np.uint8)  # top row = color 1
        palette = [(0, 0, 0), (200, 200, 200)]
        px, w, rows = _bmp_pixel_rows(self._bmp8(idx, palette))
        arr = px.reshape(2, 2, 3)
        assert (arr[0] == 200).all() and (arr[1] == 0).all()

    def test_32bpp_bgra_decodes_alpha_dropped(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        rng = np.random.RandomState(3)
        px = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)
        for comp in (0, 3):
            extra = (struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
                     if comp == 3 else b"")
            data_off = 54 + len(extra)
            body = b"".join(
                bytes(np.concatenate(
                    [px[r], np.full((5, 1), 200, np.uint8)], axis=1
                ).reshape(-1)) for r in reversed(range(4))
            )
            hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                       data_off)
                   + struct.pack("<IiiHHIIiiII", 40, 5, 4, 1, 32, comp,
                                 len(body), 0, 0, 0, 0) + extra)
            got = _bmp_pixel_rows(hdr + body)
            assert got is not None, comp
            out, w, rows = got
            assert (w, rows) == (5, 4)
            assert (out.reshape(4, 5, 3) == px).all(), comp
        # non-standard bitfield masks stay header-only
        weird = (b"BM" + struct.pack("<IHHI", 66 + 80, 0, 0, 66)
                 + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 3,
                               16, 0, 0, 0, 0)
                 + struct.pack("<III", 0xF800, 0x07E0, 0x001F)
                 + b"\0" * 16)
        assert _bmp_pixel_rows(weird) is None

    def test_16bpp_555_and_565_decode(self):
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        # 2x2 pure channels: red, green / blue, white
        def word555(r, g, b):
            return (r << 10) | (g << 5) | b

        def word565(r, g, b):
            return (r << 11) | (g << 5) | b

        cases = [
            (0, None, word555, 5),    # BI_RGB -> 555
            (3, (0x7C00, 0x03E0, 0x001F), word555, 5),
            (3, (0xF800, 0x07E0, 0x001F), word565, 6),
        ]
        for comp, masks, mk, gbits in cases:
            gmax = (1 << gbits) - 1
            rows_words = [
                [mk(31, 0, 0), mk(0, gmax, 0)],
                [mk(0, 0, 31), mk(31, gmax, 31)],
            ]
            extra = struct.pack("<III", *masks) if masks else b""
            data_off = 54 + len(extra)
            body = b"".join(
                struct.pack("<HH", *rows_words[r])  # w=2 -> stride 4, no pad
                for r in reversed(range(2))
            )
            hdr = (b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0,
                                       data_off)
                   + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 16, comp,
                                 len(body), 0, 0, 0, 0) + extra)
            got = _bmp_pixel_rows(hdr + body)
            assert got is not None, (comp, masks)
            out, w, rows = got
            arr = out.reshape(2, 2, 3)  # BGR order
            assert tuple(arr[0, 0]) == (0, 0, 255), (comp, masks)   # red
            assert tuple(arr[0, 1]) == (0, 255, 0), (comp, masks)   # green
            assert tuple(arr[1, 0]) == (255, 0, 0), (comp, masks)   # blue
            assert tuple(arr[1, 1]) == (255, 255, 255), (comp, masks)
        # non-standard 16-bit masks stay header-only
        weird = (b"BM" + struct.pack("<IHHI", 66 + 16, 0, 0, 66)
                 + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 16, 3,
                               16, 0, 0, 0, 0)
                 + struct.pack("<III", 0xF00, 0x0F0, 0x00F) + b"\0" * 16)
        assert _bmp_pixel_rows(weird) is None

    def test_rle8_property_roundtrip(self):
        """Random index images with run-heavy structure roundtrip
        through the RLE8 encode/decode pair, and RLE always equals the
        uncompressed decode of the same image."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ayeaye_spark.operators.multimodal import _bmp_pixel_rows

        @settings(max_examples=40, deadline=None)
        @given(
            h=st.integers(1, 12), w=st.integers(1, 40),
            seed=st.integers(0, 2**31 - 1),
            runs=st.booleans(),
        )
        def roundtrip(h, w, seed, runs):
            rng = np.random.RandomState(seed)
            if runs:  # long-run-heavy image (encoded-run mode dominant)
                idx = np.repeat(
                    rng.randint(0, 6, size=(h, max(1, w // 5))), 5, axis=1
                )[:, :w].astype(np.uint8)
            else:  # noisy image (absolute / literal modes dominant)
                idx = rng.randint(0, 6, size=(h, w), dtype=np.uint8)
            palette = [(i * 30, 255 - i * 30, i * 11) for i in range(6)]
            plain = _bmp_pixel_rows(self._bmp8(idx, palette))
            rle = _bmp_pixel_rows(self._bmp8(idx, palette, rle=True))
            assert plain is not None and rle is not None
            assert (plain[0] == rle[0]).all()
            assert plain[1:] == rle[1:]

        roundtrip()


class TestPngDeepAndInterlaced:
    """Round-11 variants: 16-bit sample depth (decoded to the high
    byte) and Adam7 interlacing (seven independently filtered passes
    scattered to their lattices)."""

    @staticmethod
    def _chunk(typ, data):
        import struct
        import zlib

        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    @classmethod
    def _png16(cls, px16):
        """(h, w, ch) uint16 -> real 16-bit PNG (filter 0 scanlines)."""
        import struct
        import zlib

        h, w, ch = px16.shape
        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        raw = bytearray()
        for r in range(h):
            raw.append(0)
            raw.extend(px16[r].astype(">u2").tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + cls._chunk(b"IHDR", ihdr)
                + cls._chunk(b"IDAT", zlib.compress(bytes(raw)))
                + cls._chunk(b"IEND", b""))

    @classmethod
    def _png_adam7(cls, px, depth=8, pass_filter=0):
        """(h, w, ch) uint8/uint16 -> Adam7-interlaced PNG; every pass
        scanline carries ``pass_filter`` (0=None or 2=Up)."""
        import struct
        import zlib

        import numpy as np

        from ayeaye_spark.operators.multimodal import _ADAM7

        h, w, ch = px.shape
        ctype = {1: 0, 3: 2, 4: 6}[ch]
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx, :]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            flat = (sub.astype(">u2") if depth == 16
                    else sub.astype(np.uint8)).reshape(ph, -1)
            lines = flat.view(np.uint8).reshape(ph, -1)
            prev = np.zeros(lines.shape[1], np.int32)
            for r in range(ph):
                raw.append(pass_filter)
                if pass_filter == 0:
                    raw.extend(lines[r].tobytes())
                else:  # Up
                    enc = (lines[r].astype(np.int32) - prev) & 0xFF
                    raw.extend(enc.astype(np.uint8).tobytes())
                    prev = lines[r].astype(np.int32)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
        return (b"\x89PNG\r\n\x1a\n" + cls._chunk(b"IHDR", ihdr)
                + cls._chunk(b"IDAT", zlib.compress(bytes(raw)))
                + cls._chunk(b"IEND", b""))

    def test_16bit_decodes_to_high_byte(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _png_pixel_array, decode_png_pixels,
        )

        rng = np.random.RandomState(11)
        px16 = rng.randint(0, 65536, size=(5, 7, 3)).astype(np.uint16)
        got = _png_pixel_array(self._png16(px16))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (7, 5, 3)
        assert (out.reshape(5, 7, 3) == (px16 >> 8).astype(np.uint8)).all()
        # 16-bit grayscale through the public decode
        g16 = (np.arange(12, dtype=np.uint16) * 5000).reshape(3, 4, 1)
        d = decode_png_pixels(self._png16(g16))
        assert d["channels"] == 1
        assert d["mean_intensity"] == float((g16 >> 8).mean())

    def test_gray_alpha_decodes(self):
        """Color type 4 (gray+alpha, round 12 — the last PNG color
        type): 8-bit and 16-bit roundtrips; luminance for dHash/resize
        comes from channel 0, never alpha."""
        import struct
        import zlib

        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _pixel_gray,
            _png_pixel_array,
        )

        rng = np.random.RandomState(21)
        ga = rng.randint(0, 256, size=(9, 11, 2), dtype=np.uint8)
        raw = b"".join(b"\x00" + ga[r].tobytes() for r in range(9))
        ihdr = struct.pack(">IIBBBBB", 11, 9, 8, 4, 0, 0, 0)
        b = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
             + self._chunk(b"IDAT", zlib.compress(raw))
             + self._chunk(b"IEND", b""))
        got = _png_pixel_array(b)
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (11, 9, 2)
        assert (out.reshape(9, 11, 2) == ga).all()
        gray, gw, gh = _pixel_gray(b)
        assert (gw, gh) == (11, 9)
        assert (gray == ga[:, :, 0].astype(float)).all()
        # 16-bit gray+alpha downconverts to the high bytes
        ga16 = rng.randint(0, 65536, size=(4, 6, 2)).astype(np.uint16)
        got16 = _png_pixel_array(self._png16(ga16))
        assert got16 is not None
        out16 = got16[0].reshape(4, 6, 2)
        assert (out16 == (ga16 >> 8).astype(np.uint8)).all()

    def test_adam7_roundtrip_odd_dims_and_filters(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        rng = np.random.RandomState(13)
        # odd dims exercise unequal pass sizes; 9x11 has every pass
        px = rng.randint(0, 256, size=(9, 11, 3), dtype=np.uint8)
        for pf in (0, 2):
            got = _png_pixel_array(self._png_adam7(px, pass_filter=pf))
            assert got is not None, pf
            out, w, h, ch = got
            assert (w, h, ch) == (11, 9, 3)
            assert (out.reshape(9, 11, 3) == px).all(), pf

    def test_adam7_tiny_images_skip_empty_passes(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        for shape in ((1, 1, 1), (2, 3, 3), (3, 2, 4)):
            px = np.arange(np.prod(shape), dtype=np.uint8).reshape(shape)
            got = _png_pixel_array(self._png_adam7(px))
            assert got is not None, shape
            out, w, h, ch = got
            assert (h, w, ch) == shape
            assert (out.reshape(shape) == px).all(), shape

    def test_adam7_16bit_combined(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        rng = np.random.RandomState(17)
        px16 = rng.randint(0, 65536, size=(6, 5, 1)).astype(np.uint16)
        got = _png_pixel_array(self._png_adam7(px16, depth=16))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (5, 6, 1)
        assert (out.reshape(6, 5) == (px16[:, :, 0] >> 8)).all()

    @classmethod
    def _png_subbyte(cls, samples, depth, ctype, palette=None,
                     interlace=False, pass_filter=0):
        """(h, w) uint8 sample array (gray levels or palette indices,
        values < 2**depth) -> real 1/2/4-bit PNG; rows bit-packed
        MSB-first with per-row byte padding."""
        import struct
        import zlib

        import numpy as np

        from ayeaye_spark.operators.multimodal import _ADAM7

        def pack_rows(arr):
            ph, pw = arr.shape
            bits = np.zeros((ph, pw, depth), dtype=np.uint8)
            for k in range(depth):
                bits[:, :, k] = (arr >> (depth - 1 - k)) & 1
            flat = bits.reshape(ph, pw * depth)
            pad = (-flat.shape[1]) % 8
            if pad:
                flat = np.concatenate(
                    [flat, np.zeros((ph, pad), np.uint8)], axis=1
                )
            return np.packbits(flat, axis=1)

        raw = bytearray()
        passes = _ADAM7 if interlace else [(0, 0, 1, 1)]
        for x0, y0, dx, dy in passes:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            packed = pack_rows(sub)
            prev = np.zeros(packed.shape[1], np.int32)
            for r in range(packed.shape[0]):
                raw.append(pass_filter)
                if pass_filter == 0:
                    raw.extend(packed[r].tobytes())
                else:  # Up
                    raw.extend(
                        ((packed[r].astype(np.int32) - prev) & 0xFF)
                        .astype(np.uint8).tobytes())
                    prev = packed[r].astype(np.int32)
        h, w = samples.shape
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                           1 if interlace else 0)
        chunks = (b"\x89PNG\r\n\x1a\n" + cls._chunk(b"IHDR", ihdr))
        if palette is not None:
            chunks += cls._chunk(
                b"PLTE", b"".join(bytes(p) for p in palette))
        return (chunks + cls._chunk(b"IDAT", zlib.compress(bytes(raw)))
                + cls._chunk(b"IEND", b""))

    def test_subbyte_gray_scales_to_255(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        for depth in (1, 2, 4):
            lv = (1 << depth) - 1
            rng = np.random.RandomState(depth)
            # odd width exercises row-padding bits
            samples = rng.randint(0, lv + 1, size=(5, 11), dtype=np.uint8)
            got = _png_pixel_array(self._png_subbyte(samples, depth, 0))
            assert got is not None, depth
            out, w, h, ch = got
            assert (w, h, ch) == (11, 5, 1)
            want = (samples.astype(np.uint16) * 255 // lv).astype(np.uint8)
            assert (out.reshape(5, 11) == want).all(), depth

    def test_subbyte_palette_expands(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
        idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 2]], dtype=np.uint8)
        got = _png_pixel_array(self._png_subbyte(idx, 2, 3, palette=palette))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (5, 2, 3)
        want = np.array(palette, np.uint8)[idx.reshape(-1)].reshape(2, 15)
        assert (out == want).all()

    def test_subbyte_interlaced_and_filtered(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        rng = np.random.RandomState(21)
        samples = rng.randint(0, 16, size=(9, 7), dtype=np.uint8)
        for pf in (0, 2):
            got = _png_pixel_array(self._png_subbyte(
                samples, 4, 0, interlace=True, pass_filter=pf))
            assert got is not None, pf
            out, w, h, ch = got
            want = (samples.astype(np.uint16) * 255 // 15).astype(np.uint8)
            assert (out.reshape(9, 7) == want).all(), pf

    def test_adam7_property_roundtrip(self):
        """Random dims × depths × per-pass filters roundtrip exactly
        through the Adam7 encode/decode pair."""
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        @settings(max_examples=40, deadline=None)
        @given(
            h=st.integers(1, 20), w=st.integers(1, 20),
            ch=st.sampled_from([1, 3, 4]),
            depth=st.sampled_from([8, 16]),
            pf=st.sampled_from([0, 2]),
            seed=st.integers(0, 2**31 - 1),
        )
        def roundtrip(h, w, ch, depth, pf, seed):
            rng = np.random.RandomState(seed)
            if depth == 8:
                px = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
                want = px
            else:
                px = rng.randint(0, 65536, size=(h, w, ch)).astype(np.uint16)
                want = (px >> 8).astype(np.uint8)
            got = _png_pixel_array(self._png_adam7(px, depth=depth,
                                                   pass_filter=pf))
            assert got is not None
            out, gw, gh, gch = got
            assert (gw, gh, gch) == (w, h, ch)
            assert (out.reshape(h, w, ch) == want).all()

        roundtrip()

    def test_truncated_interlaced_returns_none(self):
        import struct
        import zlib

        import numpy as np

        from ayeaye_spark.operators.multimodal import _png_pixel_array

        px = np.zeros((8, 8, 3), dtype=np.uint8)
        good = self._png_adam7(px)
        # rebuild with the IDAT payload cut short
        ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 1)
        short = zlib.compress(zlib.decompress(
            good[good.index(b"IDAT") + 4:good.index(b"IEND") - 8])[:-20])
        bad = (b"\x89PNG\r\n\x1a\n" + self._chunk(b"IHDR", ihdr)
               + self._chunk(b"IDAT", short) + self._chunk(b"IEND", b""))
        assert _png_pixel_array(bad) is None


class TestGifDecode:
    """Real GIF first-frame decode: stdlib LZW + global color table,
    including the 4-pass interlace restore."""

    @staticmethod
    def _gif(idx, palette, interlaced=False):
        """Encode a (h, w) uint8 index array + (n, 3) palette as a real
        GIF using the classic uncompressed-LZW trick (literal codes +
        periodic CLEAR so the code width never grows)."""
        import struct

        import numpy as np

        h, w = idx.shape
        n = len(palette)
        gct_bits = max(1, (int(n) - 1).bit_length())
        gct_size = 2 ** gct_bits
        pal = np.zeros((gct_size, 3), dtype=np.uint8)
        pal[:n] = palette
        hdr = (b"GIF89a" + struct.pack("<HH", w, h)
               + bytes([0x80 | (gct_bits - 1), 0, 0]) + pal.tobytes())
        ipacked = 0x40 if interlaced else 0
        desc = b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + bytes([ipacked])

        mcs = 7  # literal codes 0..127 cover any small palette
        clear, width = 1 << mcs, mcs + 1
        if interlaced:
            rows = (list(range(0, h, 8)) + list(range(4, h, 8))
                    + list(range(2, h, 4)) + list(range(1, h, 2)))
            stream = np.concatenate([idx[r] for r in rows])
        else:
            stream = idx.reshape(-1)
        bits, acc, nacc = bytearray(), 0, 0

        def emit(code):
            nonlocal acc, nacc
            acc |= code << nacc
            nacc += width
            while nacc >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nacc -= 8

        emit(clear)
        for i, v in enumerate(stream):
            if i and i % 100 == 0:
                emit(clear)  # keep the decoder's table small
            emit(int(v))
        emit(clear + 1)  # EOI
        if nacc:
            bits.append(acc & 0xFF)
        data = bytes(bits)
        blocks = b"".join(
            bytes([min(255, len(data) - o)]) + data[o:o + 255]
            for o in range(0, len(data), 255)
        )
        return hdr + desc + bytes([mcs]) + blocks + b"\x00\x3B"

    def test_round_trip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _gif_pixel_array

        rng = np.random.RandomState(5)
        palette = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
        idx = rng.randint(0, 64, size=(9, 7), dtype=np.uint8)
        got = _gif_pixel_array(self._gif(idx, palette))
        assert got is not None
        px, w, h = got
        assert (w, h) == (7, 9)
        assert (px == palette[idx]).all()

    def test_interlaced_round_trip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _gif_pixel_array

        rng = np.random.RandomState(6)
        palette = rng.randint(0, 256, size=(32, 3), dtype=np.uint8)
        idx = rng.randint(0, 32, size=(16, 5), dtype=np.uint8)
        got = _gif_pixel_array(self._gif(idx, palette, interlaced=True))
        assert got is not None
        px, _w, _h = got
        assert (px == palette[idx]).all()

    def test_sample_decode_and_dhash(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import dhash64, sample_decode

        # grayscale gradient palette -> dHash matches the same image
        # as BMP (cross-format, now across three container formats)
        palette = np.stack([np.arange(64) * 4] * 3, axis=1).astype(np.uint8)
        base = np.tile(np.linspace(0, 63, 36, dtype=np.uint8), (24, 1))
        g = self._gif(base, palette)
        d = sample_decode(g)
        assert d["format"] == "gif" and d["mean_intensity"] is not None
        px = palette[base]
        h_bmp = dhash64(TestImageNearDup._bmp(px))
        assert h_bmp is not None and dhash64(g) == h_bmp

    def test_malformed_falls_back(self):
        from ayeaye_spark.operators.multimodal import _gif_pixel_array

        assert _gif_pixel_array(b"GIF89a\x03") is None
        assert _gif_pixel_array(b"notagif") is None


class TestJpegDecode:
    """Real baseline JPEG decode: numpy Huffman + IDCT, 4:4:4 and
    4:2:0, restart markers, grayscale — round-tripped against a
    minimal in-test encoder using the T.81 Annex K luminance tables
    and an all-ones quant table (error bounded by DCT rounding)."""

    DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    DC_VALS = list(range(12))
    AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
    AC_VALS = [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]

    @classmethod
    def _codes(cls, bits, vals):
        codes, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                codes[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return codes

    @classmethod
    def _jpeg(cls, px, subsample=False, restart_interval=0):
        """Encode a (h, w, 3) or (h, w) uint8 array as baseline JPEG
        (all-ones quant, Annex-K luminance tables for everything)."""
        import struct

        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _JPEG_ZIGZAG, _idct_matrix,
        )

        gray = px.ndim == 2
        h, w = px.shape[:2]
        if gray:
            y = px.astype(np.float64)
            planes = [y]
            hv = [(1, 1)]
        else:
            rgb = px.astype(np.float64)
            r, g, b_ = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
            y = 0.299 * r + 0.587 * g + 0.114 * b_
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b_ + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b_ + 128.0
            if subsample:
                def ds(p):
                    ph = (p.shape[0] + 1) // 2 * 2
                    pw = (p.shape[1] + 1) // 2 * 2
                    q = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                               mode="edge")
                    return (q[0::2, 0::2] + q[1::2, 0::2]
                            + q[0::2, 1::2] + q[1::2, 1::2]) / 4.0
                planes = [y, ds(cb), ds(cr)]
                hv = [(2, 2), (1, 1), (1, 1)]
            else:
                planes = [y, cb, cr]
                hv = [(1, 1), (1, 1), (1, 1)]
        hmax = max(a for a, _ in hv)
        vmax = max(v for _, v in hv)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        m = _idct_matrix()
        zz = _JPEG_ZIGZAG
        dc_codes = cls._codes(cls.DC_BITS, cls.DC_VALS)
        ac_codes = cls._codes(cls.AC_BITS, cls.AC_VALS)

        out = bytearray()
        acc = [0, 0]  # bitbuf, nbits

        def putbits(code, ln):
            acc[0] = (acc[0] << ln) | code
            acc[1] += ln
            while acc[1] >= 8:
                byte = (acc[0] >> (acc[1] - 8)) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
                acc[1] -= 8
                acc[0] &= (1 << acc[1]) - 1

        def put_val(v):
            s = int(abs(v)).bit_length()
            return s, (v if v >= 0 else v + (1 << s) - 1) & ((1 << s) - 1)

        def pad_plane(p, bw, bh):
            return np.pad(p, ((0, bh - p.shape[0]), (0, bw - p.shape[1])),
                          mode="edge")

        padded = []
        for pi, p in enumerate(planes):
            a, v = hv[pi]
            padded.append(pad_plane(p, mcux * 8 * a, mcuy * 8 * v))
        pred = [0] * len(planes)
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count and \
                        mcu_count % restart_interval == 0:
                    if acc[1]:  # pad to byte with 1s
                        putbits((1 << (8 - acc[1])) - 1, 8 - acc[1])
                    out.extend(b"\xff" + bytes([0xD0 + ((mcu_count //
                                restart_interval - 1) % 8)]))
                    pred = [0] * len(planes)
                for pi, p in enumerate(padded):
                    a, vv = hv[pi]
                    for by in range(vv):
                        for bx in range(a):
                            y0 = (my * vv + by) * 8
                            x0 = (mx * a + bx) * 8
                            blk = p[y0:y0 + 8, x0:x0 + 8] - 128.0
                            coef = m @ blk @ m.T
                            q = np.rint(coef).astype(int).reshape(-1)
                            zzc = [int(q.reshape(8, 8).reshape(-1)[zz[i]])
                                   for i in range(64)]
                            diff = zzc[0] - pred[pi]
                            pred[pi] = zzc[0]
                            s, bitsv = put_val(diff)
                            c, ln = dc_codes[s]
                            putbits(c, ln)
                            if s:
                                putbits(bitsv, s)
                            run = 0
                            for k in range(1, 64):
                                if zzc[k] == 0:
                                    run += 1
                                    continue
                                while run > 15:
                                    c, ln = ac_codes[0xF0]
                                    putbits(c, ln)
                                    run -= 16
                                s, bitsv = put_val(zzc[k])
                                c, ln = ac_codes[(run << 4) | s]
                                putbits(c, ln)
                                putbits(bitsv, s)
                                run = 0
                            if run:
                                c, ln = ac_codes[0x00]
                                putbits(c, ln)
                mcu_count += 1
        if acc[1]:
            putbits((1 << (8 - acc[1])) - 1, 8 - acc[1])

        def seg(marker, data):
            return b"\xff" + bytes([marker]) + struct.pack(
                ">H", len(data) + 2) + data

        nq = bytes([0]) + bytes([1] * 64)
        dht = (bytes([0x00]) + bytes(cls.DC_BITS) + bytes(cls.DC_VALS)
               + bytes([0x10]) + bytes(cls.AC_BITS) + bytes(cls.AC_VALS))
        ncomp = 1 if gray else 3
        sof = struct.pack(">BHHB", 8, h, w, ncomp)
        for ci in range(ncomp):
            a, v = hv[ci]
            sof += bytes([ci + 1, (a << 4) | v, 0])
        sos = bytes([ncomp])
        for ci in range(ncomp):
            sos += bytes([ci + 1, 0x00])
        sos += bytes([0, 63, 0])
        head = b"\xff\xd8" + seg(0xDB, nq) + seg(0xC4, dht)
        if restart_interval:
            head += seg(0xDD, struct.pack(">H", restart_interval))
        return head + seg(0xC0, sof) + seg(0xDA, sos) + bytes(out) + b"\xff\xd9"

    def test_gray_round_trip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _jpeg_pixel_array

        rng = np.random.RandomState(2)
        px = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
        got = _jpeg_pixel_array(self._jpeg(px))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (24, 16, 1)
        err = np.abs(out.astype(int) - px.astype(int))
        assert err.mean() < 2.0 and err.max() <= 12

    def test_rgb_444_round_trip(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _jpeg_pixel_array

        rng = np.random.RandomState(4)
        base = np.linspace(20, 220, 20, dtype=np.uint8)
        px = np.tile(base, (12, 1))[:, :, None].repeat(3, axis=2)
        px = (px.astype(int) + rng.randint(-8, 8, px.shape)).clip(
            0, 255).astype(np.uint8)
        got = _jpeg_pixel_array(self._jpeg(px))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (20, 12, 3)
        err = np.abs(out.reshape(12, 20, 3).astype(int) - px.astype(int))
        assert err.mean() < 4.0

    def test_rgb_420_and_restart(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _jpeg_pixel_array

        base = np.linspace(0, 255, 32, dtype=np.uint8)
        px = np.tile(base, (24, 1))[:, :, None].repeat(3, axis=2)
        got = _jpeg_pixel_array(
            self._jpeg(px, subsample=True, restart_interval=1))
        assert got is not None
        out, w, h, ch = got
        assert (w, h, ch) == (32, 24, 3)
        err = np.abs(out.reshape(24, 32, 3).astype(int) - px.astype(int))
        assert err.mean() < 6.0

    def test_dhash_cross_format_with_bmp(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import dhash64

        base = np.linspace(0, 200, 36, dtype=np.uint8)
        px = np.tile(base, (24, 1))[:, :, None].repeat(3, axis=2)
        h_bmp = dhash64(TestImageNearDup._bmp(px))
        h_jpg = dhash64(self._jpeg(px))
        assert h_bmp is not None and h_jpg is not None
        # lossy codec: allow a tiny hamming distance
        assert bin((h_bmp ^ h_jpg) & ((1 << 64) - 1)).count("1") <= 4

    def test_sample_decode_and_fallbacks(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            decode_jpeg_pixels, sample_decode,
        )

        px = np.full((10, 10, 3), 128, dtype=np.uint8)
        d = sample_decode(self._jpeg(px))
        assert d["format"] == "jpeg"
        assert abs(d["mean_intensity"] - 128.0) < 3.0
        assert decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None
        assert decode_jpeg_pixels(b"nope") is None


class TestProgressiveJpeg:
    """Progressive (SOF2) decode against a synthetic in-test encoder
    that mirrors libjpeg's jcphuff.c scan scripts: spectral selection
    (banded AC scans with EOB runs) and successive approximation (DC
    first/refine + AC first/refine with buffered correction bits).
    Ground truth: a progressive encoding carries the SAME quantized
    coefficients as the baseline encoding of the same image, so the
    decoded pixels must be BIT-IDENTICAL to the baseline decode."""

    # custom AC table usable by progressive scans: EOBn (r<<4), ZRL,
    # and every (run, size) pair — all codes 8 bits (canonical, 170
    # symbols < 255 so the all-ones code stays unassigned)
    AC_PROG_VALS = ([r << 4 for r in range(9)] + [0xF0]
                    + [(r << 4) | s for r in range(16)
                       for s in range(1, 11)])
    AC_PROG_BITS = [0] * 7 + [len(AC_PROG_VALS)] + [0] * 8

    @classmethod
    def _coef_blocks(cls, px, subsample):
        """Per-component zigzag-ordered quantized coefficient blocks on
        the MCU-padded grid (quant table all-ones, like the baseline
        test encoder) + the geometry the scans need."""
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _JPEG_ZIGZAG, _idct_matrix,
        )

        gray = px.ndim == 2
        h, w = px.shape[:2]
        if gray:
            planes, hv = [px.astype(np.float64)], [(1, 1)]
        else:
            rgb = px.astype(np.float64)
            r, g, b_ = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
            y = 0.299 * r + 0.587 * g + 0.114 * b_
            cb = -0.168736 * r - 0.331264 * g + 0.5 * b_ + 128.0
            cr = 0.5 * r - 0.418688 * g - 0.081312 * b_ + 128.0
            if subsample:
                def ds(p):
                    ph = (p.shape[0] + 1) // 2 * 2
                    pw = (p.shape[1] + 1) // 2 * 2
                    q = np.pad(p, ((0, ph - p.shape[0]),
                                   (0, pw - p.shape[1])), mode="edge")
                    return (q[0::2, 0::2] + q[1::2, 0::2]
                            + q[0::2, 1::2] + q[1::2, 1::2]) / 4.0
                planes, hv = [y, ds(cb), ds(cr)], [(2, 2), (1, 1), (1, 1)]
            else:
                planes, hv = [y, cb, cr], [(1, 1)] * 3
        hmax = max(a for a, _ in hv)
        vmax = max(v for _, v in hv)
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        m = _idct_matrix()
        zz = _JPEG_ZIGZAG
        comps = []
        for pi, p in enumerate(planes):
            a, v = hv[pi]
            bw, bh = mcux * a, mcuy * v
            pad = np.pad(p, ((0, bh * 8 - p.shape[0]),
                             (0, bw * 8 - p.shape[1])), mode="edge")
            blocks = np.zeros((bh, bw, 64), dtype=int)
            for by in range(bh):
                for bx in range(bw):
                    blk = pad[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                    coef = np.rint(m @ blk @ m.T).astype(int).reshape(-1)
                    blocks[by, bx] = coef[zz]  # zigzag order
            # non-interleaved scan grid (T.81 component-own dimensions)
            sw = -(-(-(-w * a // hmax)) // 8)
            sh = -(-(-(-h * v // vmax)) // 8)
            comps.append({"h": a, "v": v, "blocks": blocks,
                          "sw": sw, "sh": sh})
        return comps, w, h, mcux, mcuy

    @classmethod
    def _jpeg_progressive(cls, px, *, subsample=False, successive=False,
                          bands=((1, 20), (21, 63))):
        import struct

        comps, w, h, mcux, mcuy = cls._coef_blocks(px, subsample)
        dc_codes = TestJpegDecode._codes(
            TestJpegDecode.DC_BITS, TestJpegDecode.DC_VALS)
        ac_codes = TestJpegDecode._codes(cls.AC_PROG_BITS, cls.AC_PROG_VALS)

        chunks = []  # (scan header bytes, entropy bytes)

        class _W:
            def __init__(self):
                self.out, self.acc, self.n = bytearray(), 0, 0

            def put(self, code, ln):
                self.acc = (self.acc << ln) | code
                self.n += ln
                while self.n >= 8:
                    byte = (self.acc >> (self.n - 8)) & 0xFF
                    self.out.append(byte)
                    if byte == 0xFF:
                        self.out.append(0x00)
                    self.n -= 8
                    self.acc &= (1 << self.n) - 1

            def sym(self, codes, s):
                c, ln = codes[s]
                self.put(c, ln)

            def done(self):
                if self.n:
                    self.put((1 << (8 - self.n)) - 1, 8 - self.n)
                return bytes(self.out)

        def sos_header(comp_specs, ss, se, ah, al):
            body = bytes([len(comp_specs)])
            for cid, td, ta in comp_specs:
                body += bytes([cid, (td << 4) | ta])
            body += bytes([ss, se, (ah << 4) | al])
            return (b"\xff\xda" + struct.pack(">H", len(body) + 2) + body)

        def pt_ac(v, al):  # AC point transform: truncate toward zero
            return (abs(v) >> al) * (1 if v >= 0 else -1)

        # ---- DC scan (interleaved, all components) --------------------
        def dc_scan(al):
            wtr = _W()
            pred = [0] * len(comps)
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci, c in enumerate(comps):
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                v = int(c["blocks"][my * c["v"] + by,
                                                    mx * c["h"] + bx][0])
                                v >>= al  # DC point transform
                                diff = v - pred[ci]
                                pred[ci] = v
                                s = int(abs(diff)).bit_length()
                                wtr.sym(dc_codes, s)
                                if s:
                                    wtr.put((diff if diff >= 0 else
                                             diff + (1 << s) - 1)
                                            & ((1 << s) - 1), s)
            specs = [(ci + 1, 0, 0) for ci in range(len(comps))]
            chunks.append((sos_header(specs, 0, 0, 0, al), wtr.done()))

        def dc_refine(al):
            wtr = _W()
            for my in range(mcuy):
                for mx in range(mcux):
                    for c in comps:
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                v = int(c["blocks"][my * c["v"] + by,
                                                    mx * c["h"] + bx][0])
                                wtr.put((v >> al) & 1, 1)
            specs = [(ci + 1, 0, 0) for ci in range(len(comps))]
            chunks.append((sos_header(specs, 0, 0, 1, al), wtr.done()))

        # ---- AC scans (single component) ------------------------------
        def flush_eobrun(wtr, st):
            if st["eobrun"] > 0:
                nbits = st["eobrun"].bit_length() - 1
                wtr.sym(ac_codes, nbits << 4)
                if nbits:
                    wtr.put(st["eobrun"] - (1 << nbits), nbits)
                for bit in st["be"]:
                    wtr.put(bit, 1)
                st["eobrun"], st["be"] = 0, []

        def ac_first(ci, ks, ke, al):
            wtr = _W()
            st = {"eobrun": 0, "be": []}
            c = comps[ci]
            for by in range(c["sh"]):
                for bx in range(c["sw"]):
                    vals = [pt_ac(int(v), al)
                            for v in c["blocks"][by, bx][ks:ke + 1]]
                    nz = [i for i, v in enumerate(vals) if v]
                    if not nz:
                        st["eobrun"] += 1
                        continue
                    flush_eobrun(wtr, st)
                    run = 0
                    for i in range(nz[-1] + 1):
                        v = vals[i]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            wtr.sym(ac_codes, 0xF0)
                            run -= 16
                        s = int(abs(v)).bit_length()
                        wtr.sym(ac_codes, (run << 4) | s)
                        wtr.put((v if v >= 0 else v + (1 << s) - 1)
                                & ((1 << s) - 1), s)
                        run = 0
                    if nz[-1] + 1 <= ke - ks:  # trailing zeros → EOB
                        st["eobrun"] = 1
            flush_eobrun(wtr, st)
            chunks.append((sos_header([(ci + 1, 0, 0)], ks, ke, 0, al),
                           wtr.done()))

        def ac_refine(ci, ks, ke, al):
            # libjpeg encode_mcu_AC_refine: correction bits buffer (BE)
            # carried across EOB-run blocks
            wtr = _W()
            st = {"eobrun": 0, "be": []}
            c = comps[ci]
            for by in range(c["sh"]):
                for bx in range(c["sw"]):
                    raw = [int(v) for v in c["blocks"][by, bx][ks:ke + 1]]
                    absv = [abs(v) >> al for v in raw]
                    eob = 0
                    for i, t in enumerate(absv):
                        if t == 1:
                            eob = i + 1
                    r, br = 0, []
                    for i, t in enumerate(absv):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and i < eob:
                            flush_eobrun(wtr, st)
                            wtr.sym(ac_codes, 0xF0)
                            r -= 16
                            for bit in br:
                                wtr.put(bit, 1)
                            br = []
                        if t > 1:  # history-nonzero: correction bit
                            br.append(t & 1)
                            continue
                        flush_eobrun(wtr, st)
                        wtr.sym(ac_codes, (r << 4) | 1)
                        wtr.put(1 if raw[i] >= 0 else 0, 1)
                        for bit in br:
                            wtr.put(bit, 1)
                        br = []
                        r = 0
                    if r > 0 or br:
                        st["eobrun"] += 1
                        st["be"].extend(br)
            flush_eobrun(wtr, st)
            chunks.append((sos_header([(ci + 1, 0, 0)], ks, ke, 1, al),
                           wtr.done()))

        # ---- scan script ----------------------------------------------
        if successive:
            dc_scan(1)
            for ci in range(len(comps)):
                for ks, ke in bands:
                    ac_first(ci, ks, ke, 1)
            dc_refine(0)
            for ci in range(len(comps)):
                for ks, ke in bands:
                    ac_refine(ci, ks, ke, 0)
        else:
            dc_scan(0)
            for ci in range(len(comps)):
                for ks, ke in bands:
                    ac_first(ci, ks, ke, 0)

        # ---- container -------------------------------------------------
        def seg(marker, data):
            return (b"\xff" + bytes([marker])
                    + struct.pack(">H", len(data) + 2) + data)

        nq = bytes([0]) + bytes([1] * 64)
        dht = (bytes([0x00]) + bytes(TestJpegDecode.DC_BITS)
               + bytes(TestJpegDecode.DC_VALS)
               + bytes([0x10]) + bytes(cls.AC_PROG_BITS)
               + bytes(cls.AC_PROG_VALS))
        ncomp = len(comps)
        sof = struct.pack(">BHHB", 8, h, w, ncomp)
        for ci, c in enumerate(comps):
            sof += bytes([ci + 1, (c["h"] << 4) | c["v"], 0])
        out = (b"\xff\xd8" + seg(0xDB, nq) + seg(0xC4, dht)
               + seg(0xC2, sof))
        for header, entropy in chunks:
            out += header + entropy
        return out + b"\xff\xd9"

    @staticmethod
    def _baseline_pixels(px, subsample=False):
        from ayeaye_spark.operators.multimodal import _jpeg_pixel_array

        got = _jpeg_pixel_array(
            TestJpegDecode._jpeg(px, subsample=subsample))
        assert got is not None
        return got

    def _roundtrip(self, px, **kw):
        import numpy as np

        from ayeaye_spark.operators.multimodal import _jpeg_pixel_array

        subsample = kw.pop("subsample", False)
        got = _jpeg_pixel_array(
            self._jpeg_progressive(px, subsample=subsample, **kw))
        assert got is not None, "progressive decode returned None"
        base = self._baseline_pixels(px, subsample=subsample)
        assert got[1:] == base[1:]  # same (w, h, channels)
        assert np.array_equal(got[0], base[0]), (
            "progressive decode != baseline decode of the same image"
        )
        return got

    def test_gray_spectral_selection(self):
        import numpy as np

        rng = np.random.RandomState(7)
        px = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
        self._roundtrip(px)

    def test_gray_successive_approximation(self):
        import numpy as np

        rng = np.random.RandomState(9)
        px = rng.randint(0, 256, size=(24, 16), dtype=np.uint8)
        self._roundtrip(px, successive=True)

    def test_rgb_444_three_band_script(self):
        import numpy as np

        rng = np.random.RandomState(11)
        base = np.linspace(10, 240, 20, dtype=np.uint8)
        px = np.tile(base, (12, 1))[:, :, None].repeat(3, axis=2)
        px = (px.astype(int) + rng.randint(-9, 9, px.shape)).clip(
            0, 255).astype(np.uint8)
        self._roundtrip(px, bands=((1, 5), (6, 20), (21, 63)))
        self._roundtrip(px, successive=True,
                        bands=((1, 5), (6, 20), (21, 63)))

    def test_rgb_420_noninterleaved_ac_grid(self):
        """4:2:0: the AC scans walk each component's OWN block grid
        (not the MCU-padded one) — the dimension rule progressive adds
        over baseline."""
        import numpy as np

        base = np.linspace(0, 255, 36, dtype=np.uint8)
        px = np.tile(base, (20, 1))[:, :, None].repeat(3, axis=2)
        self._roundtrip(px, subsample=True)
        self._roundtrip(px, subsample=True, successive=True)

    def test_eob_runs_across_blocks(self):
        """A flat image quantizes to all-zero AC everywhere → the whole
        AC scan is one EOB run spanning every block."""
        import numpy as np

        px = np.full((32, 32), 77, dtype=np.uint8)
        self._roundtrip(px)
        self._roundtrip(px, successive=True)

    def test_sample_decode_reports_progressive(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import decode_jpeg_pixels

        px = np.full((10, 10), 200, dtype=np.uint8)
        d = decode_jpeg_pixels(self._jpeg_progressive(px))
        assert d is not None and d["format"] == "jpeg"
        assert abs(d["mean_intensity"] - 200.0) < 2.0


class TestG711Wav:
    """G.711 mu-law / A-law WAV decode — vectorized expansion pinned
    bit-exact against the ITU reference formulas."""

    @staticmethod
    def _wav(data, afmt, nch=1, rate=8000, bps=8):
        import struct

        fmt = struct.pack("<HHIIHH", afmt, nch, rate,
                          rate * nch * bps // 8, nch * bps // 8, bps)
        return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    @staticmethod
    def _mulaw_ref(u):
        u = ~u & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    @staticmethod
    def _alaw_ref(a):
        a ^= 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t += 0x108
            t <<= seg - 1
        return t if (a & 0x80) else -t

    def test_expansions_match_reference_tables(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _alaw_expand, _mulaw_expand,
        )

        codes = np.arange(256, dtype=np.uint8)
        got_mu = _mulaw_expand(codes)
        got_a = _alaw_expand(codes)
        for c in range(256):
            assert got_mu[c] == float(self._mulaw_ref(c)), ("mu", c)
            assert got_a[c] == float(self._alaw_ref(c)), ("a", c)
        assert got_mu.max() == 32124.0 and got_a.max() == 32256.0

    def test_wav_stats_for_g711(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import decode_wav_samples

        rng = np.random.RandomState(1)
        codes = rng.randint(0, 256, size=800, dtype=np.uint8).tobytes()
        for afmt in (6, 7):
            d = decode_wav_samples(self._wav(codes, afmt))
            assert d is not None and d["format"] == "wav"
            assert d["n_samples"] == 800 and d["sample_rate"] == 8000
            assert 0.0 < d["rms"] <= 1.0 and d["peak"] <= 1.0
        # unknown compressed format still falls back to None
        assert decode_wav_samples(self._wav(codes, 2)) is None


class TestAnimatedGif:
    """Animated-GIF frame splitting -> composited BMP frames riding the
    existing video frame-hash pipeline."""

    @staticmethod
    def _animated(frames_idx, palette, transparent=None):
        """Encode multiple full-canvas frames (list of (h, w) index
        arrays) as an animated GIF, optionally with a GCE transparency
        index on every frame after the first."""
        import struct

        import numpy as np

        h, w = frames_idx[0].shape
        n = len(palette)
        gct_bits = max(1, (int(n) - 1).bit_length())
        gct_size = 2 ** gct_bits
        pal = np.zeros((gct_size, 3), dtype=np.uint8)
        pal[:n] = palette
        out = bytearray(b"GIF89a" + struct.pack("<HH", w, h)
                        + bytes([0x80 | (gct_bits - 1), 0, 0])
                        + pal.tobytes())

        mcs, clear = 7, 1 << 7
        for fi, idx in enumerate(frames_idx):
            if transparent is not None and fi > 0:
                out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
            out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
            bits, acc, nacc = bytearray(), [0, 0], None

            def emit(code, acc=acc, bits=bits):
                acc[0] |= code << acc[1]
                acc[1] += mcs + 1
                while acc[1] >= 8:
                    bits.append(acc[0] & 0xFF)
                    acc[0] >>= 8
                    acc[1] -= 8

            emit(clear)
            for i, v in enumerate(idx.reshape(-1)):
                if i and i % 100 == 0:
                    emit(clear)
                emit(int(v))
            emit(clear + 1)
            if acc[1]:
                bits.append(acc[0] & 0xFF)
            data = bytes(bits)
            out += bytes([mcs])
            for o in range(0, len(data), 255):
                out += bytes([min(255, len(data) - o)]) + data[o:o + 255]
            out += b"\x00"
        out += b"\x3B"
        return bytes(out)

    def test_frames_composite_and_hash(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            dhash64, split_gif_frames,
        )

        palette = np.stack([np.arange(64) * 4] * 3, axis=1).astype(np.uint8)
        f1 = np.tile(np.linspace(0, 63, 36, dtype=np.uint8), (24, 1))
        f2 = np.tile(np.linspace(63, 0, 36, dtype=np.uint8), (24, 1))
        gif = self._animated([f1, f2], palette)
        frames = split_gif_frames(gif)
        assert len(frames) == 2
        # each composited frame hashes like its standalone-BMP twin
        h1 = dhash64(TestImageNearDup._bmp(palette[f1]))
        h2 = dhash64(TestImageNearDup._bmp(palette[f2]))
        assert [dhash64(fr) for fr in frames] == [h1, h2]

    def test_transparency_keeps_underlying_pixels(self):
        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _bmp_pixel_rows, split_gif_frames,
        )

        palette = np.array([[10, 10, 10], [200, 200, 200],
                            [0, 255, 0]], dtype=np.uint8)
        f1 = np.zeros((8, 8), dtype=np.uint8)
        f1[:4] = 1
        f2 = np.full((8, 8), 2, dtype=np.uint8)   # index 2 transparent
        gif = self._animated([f1, f2], palette, transparent=2)
        frames = split_gif_frames(gif)
        assert len(frames) == 2
        px2, w, rows = _bmp_pixel_rows(frames[1])
        # second frame is all-transparent -> canvas unchanged from f1
        px1, _, _ = _bmp_pixel_rows(frames[0])
        assert (px2 == px1).all()

    def test_video_near_dup_on_animated_gifs(self, spark):
        import numpy as np

        from ayeaye_spark.operators import multimodal

        palette = np.stack([np.arange(64) * 4] * 3, axis=1).astype(np.uint8)
        rng = np.random.RandomState(9)
        fr = [rng.randint(0, 64, size=(24, 36), dtype=np.uint8)
              for _ in range(4)]
        clip_a = self._animated(fr, palette)
        clip_b = self._animated(fr[1:], palette)     # trimmed copy
        clip_c = self._animated(
            [rng.randint(0, 64, size=(24, 36), dtype=np.uint8)
             for _ in range(3)], palette)
        df = spark.createDataFrame(
            [("a", bytearray(clip_a)), ("b", bytearray(clip_b)),
             ("c", bytearray(clip_c))],
            "path string, content binary",
        )
        pairs = multimodal.video_near_dup_pairs(
            df, threshold=0.5, splitter=multimodal.split_gif_frames,
        ).collect()
        assert {(p["path_a"], p["path_b"]) for p in pairs} == {("a", "b")}


class TestPalettedPng:
    def test_paletted_round_trip(self):
        """Color-type-3 PNG: indices unfilter like any byte stream,
        then expand through PLTE — must match direct RGB pixels."""
        import struct
        import zlib

        import numpy as np

        from ayeaye_spark.operators.multimodal import (
            _png_pixel_array, dhash64, sample_decode,
        )

        rng = np.random.RandomState(8)
        pal = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
        idx = rng.randint(0, 64, size=(24, 36), dtype=np.uint8)

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))

        ihdr = struct.pack(">IIBBBBB", 36, 24, 8, 3, 0, 0, 0)
        raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(24))
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"PLTE", pal.tobytes())
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

        got = _png_pixel_array(png)
        assert got is not None
        px, w, h, ch = got
        assert (w, h, ch) == (36, 24, 3)
        assert (px.reshape(24, 36, 3) == pal[idx]).all()
        # cross-format: hashes like the BMP of the same pixels
        assert dhash64(png) == dhash64(TestImageNearDup._bmp(pal[idx]))
        d = sample_decode(png)
        assert d["format"] == "png" and d["channels"] == 3
        # missing palette -> falls back to header-only (no crash)
        bad = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        assert _png_pixel_array(bad) is None


class TestHashModeEquivalence:
    """fast (xxhash64) vs portable (rolling mod 1e9+7) hash paths.

    Both keyspaces are collision-free on the fixture corpus, so every
    hash-VALUE-independent output — survivor sets, pair sets, counts,
    ppm ratios — must be IDENTICAL between modes; only the hash columns
    themselves differ.  This is the contract that lets production runs
    flip ``hash_mode="fast"`` (the 100 TB keyspace, K²/2⁶⁵ collision
    envelope) while the DuckDB oracle pins ``portable``.
    """

    @staticmethod
    def _docs(spark, n=120):
        from tests.conftest import SF_SMALL
        from ayeaye_spark.catalog import load

        return load(spark, SF_SMALL, "documents").where(
            F.col("doc_id") < n
        ).select("doc_id", "text")

    def test_fingerprint_dedup_same_groups(self, spark):
        df = self._docs(spark)
        def groups(mode):
            return sorted(
                (r["keep_id"], r["dup_count"])
                for r in dedup.fingerprint_dedup(
                    df, "text", "doc_id", hash_mode=mode
                ).collect()
            )
        assert groups("portable") == groups("fast")

    def test_ngram_jaccard_pairs_identical(self, spark):
        df = self._docs(spark)
        def pairs(mode):
            return sorted(
                (r["doc_id_a"], r["doc_id_b"], round(r["jaccard"], 9))
                for r in dedup.ngram_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=0.2,
                    signature="sql", hash_mode=mode,
                ).collect()
            )
        got = pairs("fast")
        assert got == pairs("portable")

    def test_containment_pairs_identical(self, spark):
        df = self._docs(spark)
        def pairs(mode):
            return sorted(
                map(tuple, dedup.containment_pairs(
                    df, "doc_id", "text", n=3, min_containment_ppm=500_000,
                    signature="sql", hash_mode=mode,
                ).collect())
            )
        assert pairs("fast") == pairs("portable")

    def test_duplicate_sentence_profile_identical(self, spark):
        from ayeaye_spark.operators import text as T

        df = self._docs(spark)
        def prof(mode):
            return sorted(map(tuple, T.duplicate_sentence_profile(
                df, "doc_id", "text", hash_mode=mode
            ).collect()))
        assert prof("fast") == prof("portable")

    def test_bigram_coherence_identical(self, spark):
        from ayeaye_spark.operators import text as T

        df = self._docs(spark)
        def coh(mode):
            return sorted(map(tuple, T.bigram_coherence(
                df, "doc_id", "text", hash_mode=mode
            ).collect()))
        assert coh("fast") == coh("portable")

    def test_repeated_spans_identical(self, spark):
        df = self._docs(spark, n=60)
        def prof(mode):
            return sorted(map(tuple, dedup.repeated_span_profile(
                df, "doc_id", "text", n=5, hash_mode=mode
            ).collect()))
        assert prof("fast") == prof("portable")
        def cut(mode):
            return sorted(
                (r["doc_id"], r["total_tokens"], r["removed_tokens"],
                 r["clean_text"])
                for r in dedup.remove_repeated_spans(
                    df, "doc_id", "text", n=5, hash_mode=mode
                ).collect()
            )
        assert cut("fast") == cut("portable")

    def test_simhash60_fast_finds_planted_near_dup(self, spark):
        base = ("the quick brown fox jumps over the lazy dog and then "
                "naps beside the quiet river bank every single afternoon")
        # same token multiset (case/ws variants) -> Hamming 0 under any
        # hash; a disjoint doc lands >3 away w.p. 1 - 2^-40ish on 60
        # independent fast bits
        df = spark.createDataFrame(
            [(1, base), (2, base.upper().replace(" ", "   ")),
             (3, "completely different words about quantum "
                 "chromodynamics lattice gauge computations nothing shared")],
            ["doc_id", "text"],
        )
        pairs = dedup.simhash_near_pairs(
            df, "doc_id", "text", fp_bits=60, bands=4, max_hamming=3,
            hash_mode="fast",
        ).collect()
        assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(1, 2)]
        # fast 60-bit fingerprints use 60 INDEPENDENT hash bits: the
        # fingerprint must differ from the portable (remixed) one
        fp_fast = dedup.with_simhash(
            df, "text", fp_bits=60, hash_mode="fast"
        ).collect()[0]["simhash"]
        fp_port = dedup.with_simhash(df, "text", fp_bits=60).collect()[0]["simhash"]
        assert fp_fast != fp_port

    def test_weighted_jaccard_and_tfidf_identical(self, spark):
        df = self._docs(spark, n=80)
        def wj(mode):
            return sorted(
                (r["doc_id_a"], r["doc_id_b"], round(r["weighted_jaccard"], 9))
                for r in dedup.weighted_jaccard_pairs(
                    df, "doc_id", "text", n=2, threshold=0.2, hash_mode=mode
                ).collect()
            )
        assert wj("fast") == wj("portable")
        def cos(mode):
            return sorted(
                (r["doc_id_a"], r["doc_id_b"], round(r["cosine"], 9))
                for r in dedup.tfidf_cosine_pairs(
                    df, "doc_id", "text", threshold=0.5, hash_mode=mode
                ).collect()
            )
        assert cos("fast") == cos("portable")

    def test_bogus_mode_raises(self, spark):
        df = self._docs(spark, n=5)
        import pytest as _pytest
        from ayeaye_spark.functions import portable as P

        with _pytest.raises(ValueError, match="hash mode"):
            P.char_hash("x", P.SPARK, "bogus")
        with _pytest.raises(ValueError, match="hash mode"):
            dedup.fingerprint_dedup(df, "text", "doc_id", hash_mode="xx")


class TestCurationAnalytics:
    def test_token_diversity_matches_bruteforce(self, spark):
        from collections import Counter

        from ayeaye_spark.operators.text import token_diversity

        rows = [(1, "a a a a"), (2, "a b c d"), (3, "a a b b"),
                (4, ""), (5, None)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: (r["n_tokens"], r["distinct_tokens"],
                             r["diversity_ppm"])
               for r in token_diversity(df, "doc_id", "text").collect()}

        def brute(t):
            toks = (t or "").lower().split()
            n = len(toks)
            if n == 0:
                return (0, 0, 0)
            sq = sum(c * c for c in Counter(toks).values())
            return (n, len(set(toks)), (n * n - sq) * 1_000_000 // (n * n))

        assert got == {i: brute(t) for i, t in rows}
        # single-type doc -> 0 diversity; all-distinct -> (1 - 1/n) ppm
        assert got[1][2] == 0 and got[2][2] == 750_000

    def test_crosscorpus_novelty(self, spark):
        from ayeaye_spark.operators.dedup import crosscorpus_novelty

        ref = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id int, text string",
        )
        new = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),  # seen
             (2, "completely novel words nowhere in reference corpus"),
             (3, "xy")],  # < n tokens -> 0 shingles
            "doc_id int, text string",
        )
        got = {r["doc_id"]: (r["n_shingles"], r["novel_shingles"],
                             r["novelty_ppm"])
               for r in crosscorpus_novelty(
                   new, ref, "doc_id", "text", n=3).collect()}
        assert got[1] == (7, 0, 0)          # fully covered
        assert got[2][0] == 5 and got[2][2] == 1_000_000  # fully novel
        assert got[3] == (0, 0, 0)
        # fast mode: identical profile (collision-free both spaces)
        fast = {r["doc_id"]: (r["n_shingles"], r["novel_shingles"],
                              r["novelty_ppm"])
                for r in crosscorpus_novelty(
                    new, ref, "doc_id", "text", n=3,
                    hash_mode="fast").collect()}
        assert fast == got

    def test_norm_profile(self, spark):
        from ayeaye_spark.operators.similarity import norm_profile

        rows = [(1, [3.0, 4.0]),        # norm 5
                (2, [1.0, 0.0]),        # unit
                (3, [0.0, 0.0]),        # degenerate
                (4, [0.6, 0.8])]        # unit
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        r = norm_profile(df).collect()[0]
        assert (r["n_vecs"], r["n_degenerate"], r["n_unit"]) == (4, 1, 2)
        assert r["min_norm_ppm"] == 0 and r["max_norm_ppm"] == 5_000_000
        assert r["mean_norm_ppm"] == (5_000_000 + 1_000_000 + 0 + 1_000_000) // 4

    def test_mmr_topk_diversifies(self, spark):
        """A dup-heavy corpus: plain cosine top-3 returns three copies of
        the same vector; MMR must pick distinct directions."""
        from ayeaye_spark.operators.similarity import mmr_topk

        q = [1.0, 0.0, 0.0]
        rows = [
            (1, [0.99, 0.1, 0.0]),   # near-q cluster (3 copies)
            (2, [0.99, 0.1, 0.0]),
            (3, [0.99, 0.1, 0.0]),
            (4, [0.7, 0.7, 0.0]),    # relevant, different direction
            (5, [0.7, 0.0, 0.7]),    # relevant, third direction
            (6, [-1.0, 0.0, 0.0]),   # anti-relevant
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        # lam=0.4 weights diversity enough that an exact duplicate's
        # relevance edge (0.995 vs 0.707) loses to its sim=1.0 penalty,
        # while the clamped penalty (max(0, sim)) keeps the
        # anti-relevant vec 6 from winning on a negative-sim "bonus"
        out = mmr_topk(df, q, k=3, pool=6, lam=0.4).collect()
        picked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
        assert picked[0] == 1               # most relevant, smallest id
        assert set(picked[1:]) == {4, 5}    # NOT the dups 2/3, NOT 6
        # rank-1 objective is lam * relevance
        r1 = [r for r in out if r["rank"] == 1][0]
        assert abs(r1["mmr_score"] - 0.4 * r1["relevance"]) < 1e-12
        # lam out of range raises
        import pytest as _pytest
        with _pytest.raises(ValueError, match="lam"):
            mmr_topk(df, q, k=2, lam=1.5)

    def test_mmr_lam1_equals_plain_topk(self, spark):
        """lam=1 degenerates to plain relevance ranking — the boundary
        that pins the objective's relevance term."""
        from ayeaye_spark.operators.similarity import cosine_topk, mmr_topk

        from ayeaye_spark.catalog import load
        from tests.conftest import SF_SMALL

        emb = load(spark, SF_SMALL, "embeddings").where(F.col("vec_id") < 60)
        qrow = emb.where(F.col("vec_id") == 0).collect()[0]
        rest = emb.where(F.col("vec_id") != 0)
        got = [r["vec_id"] for r in mmr_topk(
            rest, list(qrow["embedding"]), k=5, pool=59, lam=1.0,
        ).orderBy("rank").collect()]
        q = emb.where(F.col("vec_id") == 0)
        expect = [r["neighbor_id"] for r in cosine_topk(
            rest.unionByName(q), q, k=5,
        ).orderBy("rank").collect()]
        assert got == expect


class TestTokenizePackShards:
    def test_pack_invariants_and_reconstruction(self, spark):
        from ayeaye_spark.operators.sampling import tokenize_pack_shards

        rows = [(i, f"alpha beta doc{i} gamma " * (i % 4 + 1))
                for i in range(40)] + [(40, ""), (41, None)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        V, B = 256, 16
        out = tokenize_pack_shards(
            df, "doc_id", "text", vocab_size=V, budget=B
        ).collect()
        # every id in [0, V]; V is the reserved EOS
        for r in out:
            assert all(0 <= t <= V for t in r["token_ids"])
            assert r["n_tokens"] == len(r["token_ids"])
            assert r["token_ids"][-1] == V  # packs end on a doc boundary
            # doc_starts: one per doc, first 0, each start lands right
            # after the previous doc's EOS
            starts = r["doc_starts"]
            assert len(starts) == r["n_docs"] and starts[0] == 0
            for s in starts[1:]:
                assert r["token_ids"][s - 1] == V
        # EOS count across all packs == number of documents
        assert sum(r["token_ids"].count(V) for r in out) == 42
        # greedy fill: every pack except possibly the last STARTS under
        # budget (overflow by at most one doc is allowed)
        total = sum(r["n_tokens"] for r in out)
        assert total == sum(
            len((t or "").lower().split()) + 1 for _, t in rows
        )
        # pack ids unique, start at 0 (gaps allowed: a doc longer than
        # the budget spans multiple budget windows and claims one pack)
        pids = sorted(r["pack_id"] for r in out)
        assert pids[0] == 0 and len(set(pids)) == len(pids)
        # documents are contiguous: reconstruct the global stream and
        # compare against per-doc tokenization order
        stream = []
        for r in sorted(out, key=lambda r: r["pack_id"]):
            stream.extend(r["token_ids"])
        docs_in_order = []
        from ayeaye_spark.functions import portable_py as PY
        cache = {}
        for i, t in rows:
            ids = [h % 256 for h in PY.token_hashes(PY.tokens(t or ""), cache)]
            docs_in_order.append((i, ids + [256]))
        expect = [t for _, ids in sorted(docs_in_order) for t in ids]
        assert stream == expect


class TestMinhashFastMode:
    def test_fast_lsh_finds_planted_dups_and_values_exact(self, spark):
        base = ("the quick brown fox jumps over the lazy dog again and "
                "again every single day without fail")
        df = spark.createDataFrame(
            [(1, base), (2, base + " extra"), (3, base.upper()),
             (4, "totally different content about lattice gauge theory "
                 "computations on gpu clusters nothing shared here")],
            ["doc_id", "text"],
        )
        pairs = {
            (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
            for r in dedup.minhash_lsh_pairs(
                df, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3,
                hash_mode="fast",
            ).collect()
        }
        # case/ws variant = exact shingle-set match = jaccard 1.0; the
        # " extra" variant shares most shingles
        assert pairs[(1, 3)] == 1.0
        assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
        assert all(4 not in p for p in pairs)
        # survivors drop the higher-id members
        surv = dedup.minhash_dedup(
            df, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3,
            hash_mode="fast",
        )
        assert sorted(r["doc_id"] for r in surv.collect()) == [1, 4]

    def test_fast_minhash_rejects_nothing_on_empty(self, spark):
        # short/empty docs: the Long.MAX sentinel keeps the signature
        # total and identical for all empty shingle sets
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "one two")], ["doc_id", "text"]
        )
        sig = dedup.with_minhash_signature(
            df, "text", n=3, k=8, hash_mode="fast"
        ).select("doc_id", "minhash").collect()
        by_id = {r["doc_id"]: r["minhash"] for r in sig}
        assert by_id[1] == by_id[2] == [9223372036854775807] * 8
        assert len(by_id[3]) == 8  # doc 3 is also < n tokens -> sentinel


class TestCrossCorpusFastMode:
    def test_contamination_and_join_fast_equals_portable(self, spark):
        from tests.conftest import SF_SMALL
        from ayeaye_spark.catalog import load

        docs = load(spark, SF_SMALL, "documents").where(
            F.col("doc_id") < 100
        ).select("doc_id", "text")
        ev = docs.where(F.expr("doc_id % 5 = 0"))
        tr = docs.where(F.expr("doc_id % 5 <> 0"))

        def contam(mode):
            return sorted(map(tuple, dedup.contamination_pairs(
                ev, tr, "doc_id", "text", n=3, min_shared=2,
                hash_mode=mode).collect()))
        assert contam("fast") == contam("portable")

        def join(mode):
            return sorted(
                (r[0], r[1], round(r[2], 9))
                for r in dedup.ngram_jaccard_join(
                    ev, tr, "doc_id", "doc_id", "text", n=3,
                    threshold=0.2, hash_mode=mode).collect()
            )
        assert join("fast") == join("portable")


class TestTrainHashedClassifier:
    def test_learns_separable_corpus(self, spark):
        from ayeaye_spark.operators.text import (
            hashed_linear_score, train_hashed_classifier,
        )

        good = [(i, 1, f"excellent wonderful prose sample {i % 7} here")
                for i in range(30)]
        bad = [(100 + i, 0, f"zzz spam garbage noise blob {i % 7} here")
               for i in range(30)]
        df = spark.createDataFrame(
            good + bad, "doc_id int, label int, text string"
        )
        w, hist = train_hashed_classifier(
            df, "label", "text", dim=64, iters=12, lr=8.0, l2=0.0
        )
        # accuracy is monotone-ish and ends at 100% on a separable corpus
        assert hist[-1][1] == 1_000_000, hist
        assert hist[0][1] <= hist[-1][1]
        # signal tokens carry the right-signed weights
        from ayeaye_spark.functions import portable_py as PY
        weights = {r["wid"]: r["w"] for r in w.collect()}
        def fid(tok):
            return PY.token_hashes([tok], {})[0] % 64
        assert weights[fid("excellent")] > 0 > weights[fid("zzz")]
        # the trained table slots straight into scoring-style joins
        assert w.columns == ["wid", "w"] and w.count() == 64

    def test_empty_corpus_raises(self, spark):
        import pytest as _pytest
        from ayeaye_spark.operators.text import train_hashed_classifier

        df = spark.createDataFrame([(1, 1, "")], "doc_id int, label int, text string")
        with _pytest.raises(ValueError, match="no non-empty"):
            train_hashed_classifier(df, "label", "text", dim=8, iters=1)


class TestChunkPackDivergence:
    def test_chunking_bounds_overflow_on_long_docs(self, spark):
        """The case the chunk-then-pack telemetry exists for: with a
        budget-dwarfing document in the mix, direct packing overflows
        by ~the whole document tail; chunk-first bounds every
        sequence's overflow below the budget."""
        from ayeaye_spark.operators.sampling import pack_sequences
        from ayeaye_spark.operators.text import chunk_documents

        B = 32
        rows = [(1, "w " * 10), (2, "x " * 300), (3, "y " * 10)]
        df = spark.createDataFrame(rows, "doc_id int, text string")

        def overflow(frame, idc):
            packs = pack_sequences(
                frame, id_col=idc, token_col="_n", budget=B
            ).groupBy("pack_id").agg(F.sum("_n").alias("t"))
            return packs.select(
                F.sum(F.when(F.col("t") > B, F.col("t") - B).otherwise(0))
                .alias("o")
            ).collect()[0]["o"]

        direct = df.selectExpr(
            "doc_id", "size(split(trim(text), ' ')) + 1 AS _n"
        )
        assert overflow(direct, "doc_id") >= 300 - B  # whole-doc tail
        chunked = chunk_documents(
            df, "doc_id", "text", chunk=B - 1, step=B - 1
        ).selectExpr("doc_id * 1048576 + chunk_idx AS _oid",
                     "n_tokens + 1 AS _n")
        assert overflow(chunked, "_oid") < B  # bounded per straddle


class TestReadability:
    def test_matches_bruteforce(self, spark):
        import re

        from ayeaye_spark.operators.text import readability_profile

        rows = [
            (1, "The cat sat. The dog ran fast!"),
            (2, "Unquestionably extraordinary considerations necessitate "
                "comprehensive deliberation."),
            (3, "no terminator here at all"),
            (4, ""), (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: (r["n_sentences"], r["n_words"],
                             r["n_syllables"], r["fre_milli"])
               for r in readability_profile(df, "doc_id", "text").collect()}

        def brute(t):
            t = (t or "").lower()
            sents = [s for s in re.split(r"[.!?]+", t) if s.strip()]
            words = len(t.split())
            syls = len(re.findall(r"[aeiouy]+", t))
            if not words or not sents:
                return (len(sents), words, syls, 0)
            fre = 206835 - (1015 * words) // len(sents) - (84600 * syls) // words
            return (len(sents), words, syls, fre)

        assert got == {i: brute(t) for i, t in rows}
        # directional sanity: simple short sentences score far above
        # polysyllabic legalese
        assert got[1][3] > got[2][3] + 50_000


class TestIncrementalFastMode:
    def test_incremental_dedup_fast_equals_portable(self, spark):
        """hash_mode flows through minhash_dedup_incremental's
        **lsh_kwargs into the candidate chain."""
        base = ("the quick brown fox jumps over the lazy dog again "
                "and again every day")
        old = spark.createDataFrame([(1, base)], ["doc_id", "text"])
        new = spark.createDataFrame(
            [(2, base),
             (3, "entirely different text about lattice gauge theory "
                 "on gpu clusters")],
            ["doc_id", "text"],
        )
        for mode in ("portable", "fast"):
            surv = dedup.minhash_dedup_incremental(
                old, new, "doc_id", "text",
                n=3, k=16, bands=4, threshold=0.3, hash_mode=mode,
            )
            assert sorted(r["doc_id"] for r in surv.collect()) == [3], mode


class TestClassifierCalibration:
    def test_bins_partition_corpus_and_rates_are_exact(self, spark):
        from ayeaye_spark.operators import text as textops

        docs = spark.createDataFrame(
            [(i, ("good clean prose " * (i + 1))[:400], i % 2) for i in range(40)],
            "doc_id long, text string, label long",
        )
        out = textops.classifier_calibration(
            docs, "doc_id", "text", "label", dim=64, n_bins=4
        ).collect()
        assert [r["bin"] for r in out] == [1, 2, 3, 4]
        assert sum(r["n_docs"] for r in out) == 40
        for r in out:
            assert r["positive_ppm"] == r["n_positive"] * 1_000_000 // r["n_docs"]

    def test_perfect_signal_is_monotone(self, spark):
        """Labels aligned with the score must produce a step reliability
        curve: bottom bins all-negative, top bins all-positive."""
        from ayeaye_spark.operators import text as textops
        from ayeaye_spark.operators.text import hashed_linear_score

        docs = spark.createDataFrame(
            [(i, f"token{i} filler words here and more padding text") for i in range(30)],
            "doc_id long, text string",
        )
        scored = hashed_linear_score(docs, "doc_id", "text", dim=64)
        labeled = docs.join(
            scored.selectExpr(
                "doc_id", "cast(score_per_token_ppm > 0 as long) AS label"
            ),
            "doc_id",
        )
        out = textops.classifier_calibration(
            labeled, "doc_id", "text", "label", dim=64, n_bins=5
        ).collect()
        rates = [r["positive_ppm"] for r in sorted(out, key=lambda r: r["bin"])]
        assert rates == sorted(rates)


class TestKCore:
    @staticmethod
    def _py_kcore(raw, k):
        """Reference peeling on a python dict graph."""
        adj = {}
        for a, b in raw:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for v in [v for v, ns in adj.items() if len(ns) < k]:
                for n in adj.pop(v):
                    adj[n].discard(v)
                changed = True
        return {v: len(ns) for v, ns in adj.items()}

    def test_clique_survives_pendants_peel(self, spark):
        from ayeaye_spark.operators.graph import k_core

        # a 5-clique with a pendant chain hanging off vertex 0
        raw = [(i, j) for i in range(5) for j in range(i + 1, 5)]
        raw += [(0, 100), (100, 101), (101, 102)]
        edges = spark.createDataFrame(raw, ["a", "b"])
        got = {r["vertex"]: r["degree"] for r in k_core(edges, "a", "b", k=3).collect()}
        assert got == {i: 4 for i in range(5)}
        # the whole graph is a 1-core; chain peels at k=2 leaving the clique
        got2 = {r["vertex"]: r["degree"]
                for r in k_core(edges, "a", "b", k=2).collect()}
        assert set(got2) == {0, 1, 2, 3, 4}

    def test_random_graphs_match_python_peeling(self, spark):
        import random

        from ayeaye_spark.operators.graph import k_core

        for seed, k in ((3, 2), (9, 3)):
            rng = random.Random(seed)
            raw = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
            edges = spark.createDataFrame(raw, ["a", "b"])
            got = {r["vertex"]: r["degree"]
                   for r in k_core(edges, "a", "b", k=k).collect()}
            assert got == self._py_kcore(raw, k), (seed, k)

    def test_k_validation(self, spark):
        import pytest

        from ayeaye_spark.operators.graph import k_core

        edges = spark.createDataFrame([(1, 2)], ["a", "b"])
        with pytest.raises(ValueError, match="k must be"):
            k_core(edges, "a", "b", k=0)

    def test_round_cap_raises(self, spark):
        """A path peels one layer from each end per round: 20 vertices
        need 10 peeling rounds, so a cap of 3 must raise instead of
        returning a superset of the (empty) 2-core."""
        import pytest

        from ayeaye_spark.operators.graph import k_core

        edges = spark.createDataFrame([(i, i + 1) for i in range(19)], ["a", "b"])
        with pytest.raises(RuntimeError, match="max_rounds=3"):
            k_core(edges, "a", "b", k=2, max_rounds=3)
        assert k_core(edges, "a", "b", k=2).collect() == []


class TestTemperatureMixture:
    def test_isqrt_exact_and_upweights_low_resource(self, spark):
        import math

        from ayeaye_spark.operators import sampling

        # perfect squares and off-by-one boundaries stress the float
        # sqrt correction; one giant supply stresses the int64 range
        supplies = {"a": 1_000_000, "b": 10_000, "c": 999_999,
                    "d": 1_000_002_000_001, "e": 1}
        rows = [(g, n) for g, n in supplies.items()]
        df = spark.createDataFrame(rows, "src string, tok long")
        out = {r["src"]: r for r in sampling.temperature_mixture(
            df, group_col="src", token_col="tok", budget_tokens=10_000_000
        ).collect()}
        for g, n in supplies.items():
            assert out[g]["weight"] == math.isqrt(n), g
            assert out[g]["supply_tokens"] == n
        # τ=0.5 upweights low-resource vs proportional: b is 1% of a by
        # supply but 10% by weight
        assert out["b"]["weight"] * 10 == out["a"]["weight"]
        # allocations never exceed the budget in total (floor division)
        assert sum(r["allocated_tokens"] for r in out.values()) <= 10_000_000
        # up-sampling factor: group e must repeat massively
        assert out["e"]["epochs_ppm"] > 1_000_000

    def test_budget_validation(self, spark):
        import pytest

        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame([("a", 5)], "src string, tok long")
        with pytest.raises(ValueError, match="budget_tokens"):
            sampling.temperature_mixture(
                df, group_col="src", token_col="tok", budget_tokens=0
            )

    def test_zero_total_weight_yields_degenerate_plan(self, spark):
        """Every group with zero tokens → _tw = 0; must return an
        all-zero plan, not an ANSI divide-by-zero from `div`."""
        from ayeaye_spark.operators import sampling

        df = spark.createDataFrame(
            [("a", 0), ("b", 0)], "src string, tok long"
        )
        out = {r["src"]: r for r in sampling.temperature_mixture(
            df, group_col="src", token_col="tok", budget_tokens=1000
        ).collect()}
        assert set(out) == {"a", "b"}
        for r in out.values():
            assert (r["weight"], r["weight_ppm"], r["allocated_tokens"],
                    r["epochs_ppm"]) == (0, 0, 0, 0)


class TestKmeansQuality:
    def test_separated_clusters_report_positive_margin(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        rows = []
        # three tight, well-separated direction clusters in 6-d
        for c, axis in enumerate([0, 2, 4]):
            base = np.zeros(6)
            base[axis] = 1.0
            for i in range(20):
                v = base + rng.normal(scale=0.02, size=6)
                rows.append((c * 100 + i, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.kmeans_quality(df, k=3, iters=4).collect()
        assert len(out) == 3
        assert sum(r["n_members"] for r in out) == 60
        for r in out:
            assert r["n_members"] == 20
            assert r["mean_cos_own"] > 0.99
            assert r["nearest_other_cos"] < 0.2
            assert r["margin"] > 0.75
            assert abs(r["margin"] - (r["mean_cos_own"] - r["nearest_other_cos"])) < 1e-12
            assert r["nearest_other"] != r["cluster"]

    def test_return_state_pairs_with_plain_call(self, spark):
        rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
                for i in range(12)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        plain = {r["vec_id"]: r["cluster"]
                 for r in similarity.kmeans_embeddings(df, k=3, iters=3).collect()}
        paired, cents = similarity.kmeans_embeddings(
            df, k=3, iters=3, return_state=True
        )
        assert {r["vec_id"]: r["cluster"] for r in paired.collect()} == plain
        assert len(cents) == 3 and all(len(v) == 3 for _, v in cents)

    def test_assignment_consistent_with_final_centroids(self, spark):
        """The returned assignment must be the cosine argmax against the
        RETURNED centroids — with iters=1 the in-loop assignment used the
        seed centroids, so the pre-fix half-step pairing shows up here as
        a mismatch."""
        import numpy as np

        rng = np.random.default_rng(11)
        rows = [(i, [float(x) for x in rng.normal(size=5)]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        assigned, cents = similarity.kmeans_embeddings(
            df, k=4, iters=1, return_state=True
        )
        got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        C = np.array([v for _, v in sorted(cents)])
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        for vid, vec in rows:
            v = np.array(vec)
            cos = Cn @ (v / np.linalg.norm(v))
            # smallest-centroid-id tie break matches np.argmax
            assert got[vid] == int(np.argmax(cos)), vid


class TestRrfFuse:
    def test_fusion_math_and_outer_semantics(self, spark):
        from ayeaye_spark.operators import relational

        a = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "id long, rank long"
        )
        b = spark.createDataFrame(
            [(3, 1), (4, 2)], "id long, rank long"
        )
        out = {r["id"]: r for r in relational.rrf_fuse(
            [a, b], "id", k0=60, topk=10
        ).collect()}
        # id 3 appears in both lists: 1e6//63 + 1e6//61
        assert out[3]["rrf_ppm"] == 1_000_000 // 63 + 1_000_000 // 61
        assert out[3]["n_lists"] == 2 and out[3]["rank"] == 1
        # ids in one list only contribute from that list
        assert out[1]["rrf_ppm"] == 1_000_000 // 61 and out[1]["n_lists"] == 1
        assert out[4]["rrf_ppm"] == 1_000_000 // 62
        # deterministic tie-break: ids 1 (rank1 in a) vs 4 (rank2 in b)
        ranks = {r: i for i, r in sorted(
            ((v["rank"], k) for k, v in out.items()))}
        assert len(out) == 4

        import pytest

        with pytest.raises(ValueError, match="at least one"):
            relational.rrf_fuse([], "id")

    def test_topk_truncation(self, spark):
        from ayeaye_spark.operators import relational

        a = spark.createDataFrame(
            [(i, i) for i in range(1, 30)], "id long, rank long"
        )
        out = relational.rrf_fuse([a], "id", topk=5).collect()
        assert len(out) == 5
        assert [r["id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]


class TestCodeSwitch:
    def test_mixed_language_doc_flags(self, spark):
        from ayeaye_spark.operators import text as textops

        en = "the quick brown fox and the lazy dog are in the house"
        fr = "le chat est dans la maison et les chiens sont dehors"
        docs = spark.createDataFrame(
            [
                (1, f"{en}. {en}. {en}."),          # monolingual
                (2, f"{en}. {fr}. {en}. {fr}."),    # code-switched 50/50
                (3, f"{fr}. {fr}. {en}."),          # fr-dominant mix
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in textops.code_switch_profile(
            docs, "doc_id", "text"
        ).collect()}
        assert out[1]["n_langs"] == 1 and not out[1]["code_switched"]
        assert out[1]["dominant_ppm"] == 1_000_000
        assert out[2]["code_switched"] and out[2]["n_langs"] == 2
        assert out[2]["dominant_ppm"] == 500_000
        # 50/50 tie breaks alphabetically
        assert out[2]["dominant_lang"] == min(
            out[2]["dominant_lang"],
            ({"en", "fr"} - {out[2]["dominant_lang"]}).pop(),
        )
        assert out[3]["dominant_lang"] == "fr"
        assert out[3]["dominant_ppm"] == 2_000_000 // 3
        assert out[3]["n_sentences"] == 3


class TestWebOperators:
    def test_url_dedup_groups_variants(self, spark):
        from ayeaye_spark.operators import web

        rows = [
            (1, "HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag"),
            (2, "http://example.com/a?a=1&b=2"),
            (3, "http://example.com/a?b=2&a=1&gclid=zz"),
            (4, "https://example.com/a?a=1&b=2"),   # scheme differs: kept
            (5, "http://example.com/b"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        got = {r["canonical_url"]: (r["keep_id"], r["dup_count"])
               for r in web.url_dedup(df, "doc_id", "url").collect()}
        assert got["http://example.com/a?a=1&b=2"] == (1, 3)
        assert got["https://example.com/a?a=1&b=2"] == (4, 1)
        assert got["http://example.com/b"] == (5, 1)

    def test_domain_stats_psl_and_share(self, spark):
        from ayeaye_spark.operators import web

        rows = [("https://a.Example.co.uk/x",), ("http://b.example.co.uk/y",),
                ("https://example.com/z",), ("cdn.example.net/q",),
                (None,)]
        df = spark.createDataFrame(rows, "url string")
        got = {r["domain"]: (r["n_pages"], r["share_ppm"])
               for r in web.domain_stats(df, "url").collect()}
        assert got["example.co.uk"] == (2, 500_000)
        assert got["example.com"] == (1, 250_000)
        assert got["example.net"] == (1, 250_000)
        assert len(got) == 3  # NULL url dropped

    def test_canonicalization_is_idempotent(self, spark):
        """canonical(canonical(u)) == canonical(u) — the property that
        makes re-running the dedup stage safe."""
        from pyspark.sql import functions as F

        from ayeaye_spark.operators import web

        rows = [(u,) for u in [
            "HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag",
            "https://user@Sub.Example.co.uk.:443//x//?z=9&a=",
            "example.com/path/?fbclid=1",
            "ftp://Files.Example.ORG:21/pub/",
            "http://example.com//",        # slashes-only path -> '/'
            "http://example.com///?a=1",
        ]]
        df = spark.createDataFrame(rows, "url string")
        once = web.with_canonical_url(df, "url", "c1")
        twice = web.with_canonical_url(once, "c1", "c2")
        assert twice.where(F.col("c1") != F.col("c2")).count() == 0


class TestEncodingArtifacts:
    def test_profile_flags_damage(self, spark):
        from ayeaye_spark.operators import text as T

        rows = [
            (1, "perfectly clean text"),
            (2, "double decoded cafÃ© naÃ¯ve"),
            (3, "lossy � transcode"),
            (4, "binary \x07 noise \x01"),
            (5, ""),
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r
               for r in T.encoding_artifact_profile(df, "doc_id", "text")
               .collect()}
        assert got[1]["clean"] and got[1]["artifact_ppm"] == 0
        assert got[2]["n_mojibake"] == 2 and not got[2]["clean"]
        assert got[3]["n_replacement"] == 1 and not got[3]["clean"]
        assert got[4]["n_control"] == 2 and not got[4]["clean"]
        assert got[5]["clean"] and got[5]["artifact_ppm"] == 0
        assert got[6]["clean"] and got[6]["n_chars"] == 0
        # ppm is floor((artifacts * 1e6) / chars), exact integers
        assert got[2]["artifact_ppm"] == (2 * 1_000_000) // got[2]["n_chars"]


class TestHtmlExtract:
    def test_extracts_text_and_signals(self, spark):
        from ayeaye_spark.operators import web

        rows = [
            (1, '<html><head><style>p{c}</style><script>var x=1<2;'
                '</script></head><body><!-- c --><h1>T&amp;t</h1>'
                '<p>body text here</p><a href="/x">a link</a>'
                '</body></html>'),
            (2, 'no markup at all'),
            (3, '<ul><li><a href="a">home</a></li><li><a href="b">about'
                '</a></li></ul>'),                     # pure navigation
            (4, '<script>only script</script>'),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, html string")
        got = {r["doc_id"]: r
               for r in web.html_extract(df, "doc_id", "html").collect()}
        assert got[1]["text"] == "T&t body text here a link"
        assert got[1]["n_links"] == 1
        assert 0 < got[1]["link_density_ppm"] < 1_000_000
        assert got[2]["text"] == "no markup at all"
        assert got[2]["n_links"] == 0 and got[2]["link_density_ppm"] == 0
        # navigation page: all visible text is anchor text except the
        # joining space — 9 anchor chars over "home about" (10 chars)
        assert got[3]["text"] == "home about"
        assert got[3]["link_density_ppm"] == 900_000
        assert got[4]["text"] == "" and got[4]["text_ratio_ppm"] == 0
        assert got[5]["text"] == "" and got[5]["n_chars_html"] == 0

    def test_entity_decode_order(self, spark):
        from ayeaye_spark.operators import web

        # &amp;lt; must decode to the LITERAL string "&lt;", not "<"
        df = spark.createDataFrame(
            [(1, "<p>&amp;lt; &quot;q&quot; &#39;s&nbsp;x</p>")],
            "doc_id long, html string",
        )
        r = web.html_extract(df, "doc_id", "html").collect()[0]
        assert r["text"] == '&lt; "q" \'s x'


class TestLicenseSignals:
    def test_flags_and_rollup(self, spark):
        from ayeaye_spark.operators import web

        rows = [
            ("s1", "Licensed under Creative Commons Attribution 4.0"),
            ("s1", "plain document"),
            ("s1", "see creativecommons.org/licenses/by-nc/2.0 terms"),
            ("s1", "Copyright. ALL RIGHTS RESERVED."),
            ("s2", "released as CC0 public domain"),
            ("s2", 'meta content="noai, noimageai"'),
            ("s2", "the word noaim must NOT match the opt-out"),
            ("s2", None),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        per_doc = web.license_signals(
            df.selectExpr("monotonically_increasing_id() id", "text"),
            "id", "text",
        ).collect()
        assert sum(r["cc_license"] for r in per_doc) == 2
        assert sum(r["ai_opt_out"] for r in per_doc) == 1  # noaim excluded
        got = {r["source"]: r
               for r in web.license_rollup(df, "source", "text").collect()}
        assert got["s1"]["n_docs"] == 4
        assert got["s1"]["n_cc_license"] == 2
        assert got["s1"]["cc_license_ppm"] == 500_000
        assert got["s1"]["n_rights_reserved"] == 1
        assert got["s2"]["n_public_domain"] == 1
        assert got["s2"]["n_ai_opt_out"] == 1
        assert got["s2"]["ai_opt_out_ppm"] == 250_000


class TestLangFertility:
    def test_ratios_exact(self, spark):
        from ayeaye_spark.operators import text as T

        rows = [
            ("en", "the cat sat"),          # 3 words, 3 lexical tokens
            ("en", "re-do it, now!"),       # 3 words, 7 lexical tokens
            ("zz", ""),                     # zero-guard
            ("zz", None),
        ]
        df = spark.createDataFrame(rows, "lang string, text string")
        got = {r["lang"]: r
               for r in T.lang_fertility_stats(df, "text", "lang").collect()}
        en = got["en"]
        assert (en["n_docs"], en["n_words"], en["n_tokens"]) == (2, 6, 10)
        assert en["fertility_ppm"] == 10 * 1_000_000 // 6
        assert en["n_bytes"] == len("the cat sat") + len("re-do it, now!")
        assert en["bytes_per_token_ppm"] == en["n_bytes"] * 1_000_000 // 10
        assert got["zz"]["fertility_ppm"] == 0
        assert got["zz"]["bytes_per_token_ppm"] == 0


class TestSourceOverlap:
    def test_shared_shingles_and_cap(self, spark):
        from ayeaye_spark.operators import text as T

        shared = "alpha beta gamma delta epsilon"          # one 5-gram
        rows = [
            ("a", f"{shared} unique to a one two"),
            ("b", f"{shared} other words here now"),
            ("c", "completely different text with no overlap at all"),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        out = T.source_overlap_matrix(df, "source", "text", n=5).collect()
        got = {(r["source_a"], r["source_b"]): r for r in out}
        assert set(got) == {("a", "b")}
        r = got[("a", "b")]
        assert r["shared_grams"] == 1
        # a: 10 tokens -> 6 distinct 5-grams; b: 9 tokens -> 5
        assert r["grams_a"] == 6 and r["grams_b"] == 5
        assert r["jaccard_ppm"] == 1_000_000 // (6 + 5 - 1)
        # ubiquity cap: a gram in all 3 sources with cap=2 is dropped
        rows3 = [(s, shared) for s in ("a", "b", "c")]
        df3 = spark.createDataFrame(rows3, "source string, text string")
        assert T.source_overlap_matrix(
            df3, "source", "text", n=5, max_sources_per_gram=2
        ).count() == 0
        assert T.source_overlap_matrix(
            df3, "source", "text", n=5, max_sources_per_gram=3
        ).count() == 3


class TestDomainLinkEdges:
    def test_resolution_and_aggregation(self, spark):
        from ayeaye_spark.operators import web

        rows = [
            ("https://www.a-site.com/p1",
             '<a href="https://b-site.com/x">abs</a>'
             '<a href="/about">self</a>'
             '<a href=//cdn-host.net/lib>proto</a>'
             '<a href="mailto:x@y">m</a><a href="#f">f</a>'
             '<a href=relative.html>rel-self</a>'),
            ("https://sub.a-site.com/p2",
             '<a href="https://b-site.com/y">abs again</a>'),
            ("https://b-site.com/p3",
             "<a href='https://a-site.com/z'>single quoted</a>"),
            (None, '<a href="https://x.com/q">dropped: null url</a>'),
            ("https://c-site.com/p4", None),
        ]
        df = spark.createDataFrame(rows, "url string, html string")
        got = {(r["src_domain"], r["dst_domain"]): r["n_links"]
               for r in web.domain_link_edges(df, "url", "html").collect()}
        # self-domain edges (root-relative, path-relative) dropped;
        # both a-site pages (www + sub) collapse to one eTLD+1 source
        assert got == {
            ("a-site.com", "b-site.com"): 2,
            ("a-site.com", "cdn-host.net"): 1,
            ("b-site.com", "a-site.com"): 1,
        }

    def test_self_edges_kept_when_asked(self, spark):
        from ayeaye_spark.operators import web

        df = spark.createDataFrame(
            [("https://a-site.com/", '<a href="/x">s</a>')],
            "url string, html string",
        )
        out = web.domain_link_edges(
            df, "url", "html", drop_self=False
        ).collect()
        assert [(r["src_domain"], r["dst_domain"], r["n_links"])
                for r in out] == [("a-site.com", "a-site.com", 1)]


class TestCrawlDelta:
    def test_statuses_and_variant_alignment(self, spark):
        from ayeaye_spark.operators import web

        old = spark.createDataFrame([
            ("https://a.com/x", "alpha content"),
            ("https://a.com/y", "beta content"),
            ("https://a.com/gone", "removed content"),
            ("https://a.com/dup?b=2&a=1", "dup content"),
            ("HTTPS://A.com/dup/?a=1&b=2#f", "dup content"),  # intra-dup
            (None, "null url dropped"),
        ], "url string, text string")
        new = spark.createDataFrame([
            # same page via a tracking variant, same content
            ("https://a.com/x?utm_source=recrawl", "alpha content"),
            ("https://a.com/y", "beta content CHANGED"),
            ("https://a.com/new", "added content"),
            ("https://a.com/dup?a=1&b=2", "dup content"),
        ], "url string, text string")
        got = {r["canonical_url"]: r["status"]
               for r in web.crawl_delta(old, new, "url", "text").collect()}
        assert got == {
            "https://a.com/x": "unchanged",
            "https://a.com/y": "changed",
            "https://a.com/gone": "removed",
            "https://a.com/new": "added",
            "https://a.com/dup?a=1&b=2": "unchanged",
        }

    def test_fast_mode_same_statuses(self, spark):
        from ayeaye_spark.operators import web

        old = spark.createDataFrame(
            [(f"https://s.com/{i}", f"content {i}") for i in range(20)],
            "url string, text string",
        )
        new = spark.createDataFrame(
            [(f"https://s.com/{i}",
              f"content {i}" + (" v2" if i % 3 == 0 else ""))
             for i in range(2, 22)],
            "url string, text string",
        )
        for mode in ("portable", "fast"):
            got = {r["canonical_url"]: r["status"]
                   for r in web.crawl_delta(
                       old, new, "url", "text", hash_mode=mode).collect()}
            assert sum(s == "removed" for s in got.values()) == 2
            assert sum(s == "added" for s in got.values()) == 2
            assert sum(s == "changed" for s in got.values()) == 6
            assert sum(s == "unchanged" for s in got.values()) == 12


class TestWebReviewRegressions:
    """Pins for the round-10 review findings."""

    def test_slashes_only_path_collapses(self, spark):
        from ayeaye_spark.operators import web

        rows = [(1, "http://example.com//"), (2, "http://example.com/"),
                (3, "http://example.com")]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = web.url_dedup(df, "doc_id", "url").collect()
        assert len(out) == 1
        assert out[0]["canonical_url"] == "http://example.com/"
        assert (out[0]["keep_id"], out[0]["dup_count"]) == (1, 3)

    def test_null_urls_dropped_not_grouped(self, spark):
        from ayeaye_spark.operators import web

        rows = [(1, None), (2, None), (3, "https://a.com/x")]
        df = spark.createDataFrame(rows, "doc_id long, url string")
        out = web.url_dedup(df, "doc_id", "url").collect()
        assert len(out) == 1 and out[0]["keep_id"] == 3

    def test_uppercase_nonnav_schemes_dropped(self, spark):
        from pyspark.sql import functions as F

        from ayeaye_spark.functions import portable as P

        df = spark.createDataFrame(
            [("MAILTO:a@b",), ("Javascript:void(0)",), ("TEL:+1",),
             ("DATA:text/plain,x",), ("/real",)], "href string")
        got = [r[0] for r in df.select(
            F.expr(P.link_host("href", "'base.co'", P.SPARK))).collect()]
        assert got == [None, None, None, None, "base.co"]

    def test_href_values_with_quotes_survive(self, spark):
        from pyspark.sql import functions as F

        from ayeaye_spark.functions import portable as P

        html = ('<a href="o\'brien/z">1</a>'
                "<a href='he said \"hi\"'>2</a>")
        df = spark.createDataFrame([(html,)], "h string")
        got = df.select(F.expr(P.html_hrefs("h", P.SPARK))).collect()[0][0]
        assert list(got) == ["o'brien/z", 'he said "hi"']


class TestRobotsCompliance:
    ROBOTS = """# comment line
User-agent: *
Disallow: /private/
Allow: /private/open
Disallow: /*.gif$
Disallow:

User-agent: badbot
Disallow: /
"""

    def test_rfc9309_semantics(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", self.ROBOTS),
             ("b.com", "User-agent: googlebot\nDisallow: /\n")],
            "host string, robots_txt string",
        )
        pages = spark.createDataFrame([
            (1, "https://a.com/public/page.html"),
            (2, "https://a.com/private/secret"),
            (3, "https://a.com/private/open/doc"),    # allow carveout wins
            (4, "https://a.com/img/pic.gif"),          # wildcard + $ anchor
            (5, "https://a.com/img/pic.gift"),         # $ anchor: no match
            (6, "https://b.com/x"),                    # no * group
            (7, "https://c.com/no-robots"),            # host absent
            (8, "https://A.com:443/private/x?y=1"),    # host canonicalized
            (9, "https://a.com"),                      # empty path -> '/'
        ], "doc_id long, url string")
        got = {r["doc_id"]: (r["allowed"], r["matched_rule"],
                             r["matched_type"])
               for r in web.robots_filter(
                   pages, robots, "doc_id", "url").collect()}
        assert got[1] == (True, None, None)
        assert got[2] == (False, "/private/", "disallow")
        assert got[3] == (True, "/private/open", "allow")
        assert got[4] == (False, "/*.gif$", "disallow")
        assert got[5] == (True, None, None)
        assert got[6] == (True, None, None)
        assert got[7] == (True, None, None)
        assert got[8] == (False, "/private/", "disallow")
        assert got[9] == (True, None, None)

    def test_specific_agent_group(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", self.ROBOTS)], "host string, robots_txt string")
        pages = spark.createDataFrame(
            [(1, "https://a.com/anything")], "doc_id long, url string")
        got = web.robots_filter(
            pages, robots, "doc_id", "url", agent="badbot"
        ).collect()[0]
        assert got["allowed"] is False and got["matched_rule"] == "/"

    def test_shared_agent_run(self, spark):
        """Two consecutive User-agent lines share one rule group."""
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame([(
            "a.com",
            "User-agent: botA\nUser-agent: *\nDisallow: /x\n",
        )], "host string, robots_txt string")
        pages = spark.createDataFrame(
            [(1, "https://a.com/x/1"), (2, "https://a.com/y")],
            "doc_id long, url string",
        )
        got = {r["doc_id"]: r["allowed"]
               for r in web.robots_filter(
                   pages, robots, "doc_id", "url").collect()}
        assert got == {1: False, 2: True}


class TestCrawlPlan:
    def test_delays_and_serial_time(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame([
            ("a.com", "User-agent: *\nCrawl-delay: 2\n"
                      "User-agent: slowbot\nCrawl-delay: 30\n"),
            ("b.com", "User-agent: *\nCrawl-delay: 0.5\n"),
            ("c.com", "User-agent: *\nDisallow: /x\n"),   # no delay
            ("d.com", "User-agent: *\nCrawl-delay: bogus\n"),
        ], "host string, robots_txt string")
        pages = spark.createDataFrame(
            [(f"https://{h}/p{i}",) for h in ("a.com", "b.com", "c.com")
             for i in range(3)] + [("https://d.com/x",), (None,)],
            "url string",
        )
        got = {r["host"]: (r["n_pages"], r["crawl_delay_ms"], r["serial_ms"])
               for r in web.crawl_plan(pages, robots, "url").collect()}
        assert got["a.com"] == (3, 2000, 6000)      # slowbot's 30 ignored
        assert got["b.com"] == (3, 500, 1500)       # fractional exact
        assert got["c.com"] == (3, 1000, 3000)      # default
        assert got["d.com"] == (1, 1000, 1000)      # unparseable -> default
        assert len(got) == 4                        # NULL url dropped

    def test_agent_specific_delay(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nCrawl-delay: 1\n"
                       "User-agent: mybot\nCrawl-delay: 7\n")],
            "host string, robots_txt string",
        )
        got = web.robots_crawl_delays(
            robots, "host", "robots_txt", agent="mybot"
        ).collect()[0]
        assert got["crawl_delay_ms"] == 7000


def _build_exif_jpeg(bo="<", *, make=b"TestCam", model=b"X100",
                     orientation=6, dto=b"2026:08:16 10:00:00",
                     width=4000, height=3000,
                     gps=((51, 1), (30, 1), (30, 1), b"N",
                          (0, 1), (7, 1), (30, 1), b"W")):
    """Minimal JPEG (SOI + APP1 + EOI) with a hand-built TIFF/Exif
    structure in byte order `bo` ('<' II little / '>' MM big)."""
    import struct

    order = b"II" if bo == "<" else b"MM"

    def ent(tag, typ, cnt, val4):
        return struct.pack(bo + "HHI", tag, typ, cnt) + val4

    blobs = []           # (placeholder_index, bytes) appended after IFDs
    def defer(data):
        blobs.append(data)
        return len(blobs) - 1

    # layout: tiff hdr (8) + ifd0 + exif ifd + gps ifd + blobs
    # ifd0: make(off) model(off) orientation dto(off) exifptr gpsptr
    n0, ne, ng = 6, 3, 4
    ifd0_off = 8
    exif_off = ifd0_off + 2 + n0 * 12 + 4
    gps_off = exif_off + 2 + ne * 12 + 4
    blob_off = gps_off + 2 + ng * 12 + 4

    deferred = []
    def ascii_entry(tag, data):
        data = data + b"\x00"
        if len(data) <= 4:
            return ent(tag, 2, len(data), data.ljust(4, b"\x00"))
        deferred.append(data)
        off = blob_off + sum(len(d) for d in deferred[:-1])
        return ent(tag, 2, len(data), struct.pack(bo + "I", off))

    def rat3_entry(tag, rats):
        data = b"".join(struct.pack(bo + "II", n, d) for n, d in rats)
        deferred.append(data)
        off = blob_off + sum(len(d) for d in deferred[:-1])
        return ent(tag, 5, 3, struct.pack(bo + "I", off))

    ifd0 = struct.pack(bo + "H", n0)
    ifd0 += ascii_entry(0x010F, make)
    ifd0 += ascii_entry(0x0110, model)
    ifd0 += ent(0x0112, 3, 1, struct.pack(bo + "H", orientation) + b"\x00\x00")
    ifd0 += ascii_entry(0x0132, b"1999:01:01 00:00:00")   # overridden by DTO
    ifd0 += ent(0x8769, 4, 1, struct.pack(bo + "I", exif_off))
    ifd0 += ent(0x8825, 4, 1, struct.pack(bo + "I", gps_off))
    ifd0 += struct.pack(bo + "I", 0)

    exif = struct.pack(bo + "H", ne)
    exif += ascii_entry(0x9003, dto)
    exif += ent(0xA002, 4, 1, struct.pack(bo + "I", width))
    exif += ent(0xA003, 3, 1, struct.pack(bo + "H", height) + b"\x00\x00")
    exif += struct.pack(bo + "I", 0)

    glat, glat_ref = gps[0:3], gps[3]
    glon, glon_ref = gps[4:7], gps[7]
    g = struct.pack(bo + "H", ng)
    g += ent(0x0001, 2, 2, glat_ref + b"\x00\x00\x00"[:4 - len(glat_ref) - 1] + b"\x00")
    g += rat3_entry(0x0002, glat)
    g += ent(0x0003, 2, 2, glon_ref + b"\x00\x00\x00"[:4 - len(glon_ref) - 1] + b"\x00")
    g += rat3_entry(0x0004, glon)
    g += struct.pack(bo + "I", 0)

    tiff = order + struct.pack(bo + "H", 42) + struct.pack(bo + "I", ifd0_off)
    tiff += ifd0 + exif + g + b"".join(deferred)
    app1 = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + (len(app1) + 2).to_bytes(2, "big") + app1
    return b"\xff\xd8" + seg + b"\xff\xd9"


class TestExif:
    def test_parse_both_byte_orders(self):
        from ayeaye_spark.operators.multimodal import parse_exif

        for bo in ("<", ">"):
            meta = parse_exif(_build_exif_jpeg(bo))
            assert meta["make"] == "TestCam" and meta["model"] == "X100"
            assert meta["orientation"] == 6
            assert meta["datetime_original"] == "2026:08:16 10:00:00"
            assert (meta["width"], meta["height"]) == (4000, 3000)
            # 51 deg 30 min 30 sec N = 51.508333... -> floor microdeg
            assert meta["gps_lat_udeg"] == 51_508_333
            # 0 deg 7 min 30 sec W = -0.125 exactly
            assert meta["gps_lon_udeg"] == -125_000

    def test_non_exif_and_garbage(self):
        from ayeaye_spark.operators.multimodal import parse_exif

        assert parse_exif(b"\xff\xd8\xff\xd9") is None        # no APP1
        assert parse_exif(b"\x89PNG\r\n") is None             # not jpeg
        assert parse_exif(b"") is None

    def test_stage_and_privacy_audit(self, spark):
        from ayeaye_spark.operators.multimodal import extract_exif

        rows = [
            ("a.jpg", _build_exif_jpeg("<")),
            ("b.jpg", _build_exif_jpeg(">")),
            ("c.jpg", b"\xff\xd8\xff\xd9"),      # jpeg, no exif
            ("d.png", b"\x89PNG\r\n\x1a\n"),     # not a jpeg
        ]
        df = spark.createDataFrame(rows, "path string, content binary")
        got = {r["path"]: r for r in extract_exif(df).collect()}
        assert got["a.jpg"]["make"] == "TestCam"
        assert got["a.jpg"]["gps_lon_udeg"] == -125_000
        assert got["b.jpg"]["has_gps"] is True
        assert got["c.jpg"]["make"] is None and got["c.jpg"]["has_gps"] is False
        assert got["d.png"]["has_gps"] is False
        # the privacy-audit counts: GPS positions and camera identities
        assert len(got) == 4
        assert sum(r["has_gps"] for r in got.values()) == 2
        assert sum(r["make"] is not None or r["model"] is not None
                   for r in got.values()) == 2


class TestRobotsReviewRegressions:
    """Pins for the round-10 session-2 review findings."""

    def test_unrecognized_directives_split_groups(self, spark):
        """A directive the parser doesn't model still ends a User-agent
        run — groups must not merge across it."""
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame([(
            "a.com",
            "User-agent: *\nCrawl-delay: 5\n"
            "User-agent: googlebot-image\nDisallow: /photos/\n",
        )], "host string, robots_txt string")
        pages = spark.createDataFrame(
            [(1, "https://a.com/photos/x.jpg")], "doc_id long, url string")
        got = web.robots_filter(pages, robots, "doc_id", "url").collect()[0]
        assert got["allowed"] is True  # /photos/ governs ONLY googlebot-image
        # symmetric: the rules line must not merge the delay groups
        robots2 = spark.createDataFrame([(
            "a.com",
            "User-agent: *\nDisallow: /private/\n"
            "User-agent: slowbot\nCrawl-delay: 600\n",
        )], "host string, robots_txt string")
        d = web.robots_crawl_delays(
            robots2, "host", "robots_txt").collect()[0]
        assert d["crawl_delay_ms"] == 1000  # default, NOT slowbot's 600s

    def test_star_fallback_for_named_agent(self, spark):
        """RFC 9309 2.2.1: a named crawler obeys the '*' group when no
        group names it."""
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /\nCrawl-delay: 3\n"),
             ("b.com", "User-agent: mybot\nDisallow: /only-mine/\n"
                       "User-agent: *\nDisallow: /\n")],
            "host string, robots_txt string",
        )
        pages = spark.createDataFrame(
            [(1, "https://a.com/x"), (2, "https://b.com/anything"),
             (3, "https://b.com/only-mine/doc")],
            "doc_id long, url string",
        )
        got = {r["doc_id"]: r["allowed"]
               for r in web.robots_filter(
                   pages, robots, "doc_id", "url", agent="mybot").collect()}
        # a.com: no mybot group -> '*' applies -> disallowed
        # b.com: mybot group EXISTS -> '*' ignored -> only /only-mine/ blocked
        assert got == {1: False, 2: True, 3: False}
        d = {r["host"]: r["crawl_delay_ms"]
             for r in web.robots_crawl_delays(
                 robots, "host", "robots_txt", agent="mybot").collect()}
        assert d["a.com"] == 3000  # fallback picks up '*' delay

    def test_query_only_url_matches_root_rules(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /\n")],
            "host string, robots_txt string")
        pages = spark.createDataFrame(
            [(1, "https://a.com?id=1"), (2, "https://a.com")],
            "doc_id long, url string")
        got = {r["doc_id"]: r["allowed"]
               for r in web.robots_filter(
                   pages, robots, "doc_id", "url").collect()}
        assert got == {1: False, 2: False}

    def test_hostile_delay_values_ignored(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nCrawl-delay: 9999999999\n"),
             ("b.com", "User-agent: *\nCrawl-delay: 1.25\n")],
            "host string, robots_txt string")
        got = {r["host"]: r["crawl_delay_ms"]
               for r in web.robots_crawl_delays(
                   robots, "host", "robots_txt").collect()}
        assert got["a.com"] == 1000   # overflow-sized value -> default
        assert got["b.com"] == 1250

    def test_duplicate_host_rows_collapse_deterministically(self, spark):
        from ayeaye_spark.operators import web

        robots = spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /a/\n"),
             ("a.com", "User-agent: *\nDisallow: /b/\n")],
            "host string, robots_txt string")
        rules = web.parse_robots_rules(robots, "host", "robots_txt")
        got = sorted(r["path_rule"] for r in rules.collect())
        assert got == ["/b/"]  # max(text) wins; no interleaving

    def test_exif_ff_padding_before_marker(self):
        from ayeaye_spark.operators.multimodal import parse_exif

        jpeg = _build_exif_jpeg("<")
        padded = jpeg[:2] + b"\xff" + jpeg[2:]  # fill byte before APP1
        meta = parse_exif(padded)
        assert meta is not None and meta["make"] == "TestCam"
        assert meta["gps_lon_udeg"] == -125_000


class TestPagerankSmallGraphGate:
    def test_local_path_bit_identical_to_distributed(self, spark):
        """The small-graph driver twin must equal the distributed loop
        exactly — same integer floor-division arithmetic."""
        import random

        from ayeaye_spark.operators import graph

        rng = random.Random(7)
        nodes = [f"n{i}" for i in range(40)]
        rows = [(rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
                for _ in range(200)]
        # include a pure sink and a pure source
        rows += [("srconly", "n0", 3), ("n1", "sinkonly", 2)]
        edges = spark.createDataFrame(rows, "src string, dst string, w long")
        local = {(r["node"], r["pr_ppb"])
                 for r in graph.pagerank_exact(
                     edges, "src", "dst", "w", iterations=4).collect()}
        dist = {(r["node"], r["pr_ppb"])
                for r in graph.pagerank_exact(
                    edges, "src", "dst", "w", iterations=4,
                    small_graph_edges=0).collect()}
        assert local == dist and len(local) == 42

    def test_gate_threshold_respected(self, spark):
        from ayeaye_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
            "src string, dst string, w long",
        )
        # threshold below the edge count -> distributed path still runs
        out = graph.pagerank_exact(
            edges, "src", "dst", "w", iterations=2, small_graph_edges=2
        ).collect()
        assert len(out) == 3

    def test_null_weight_edges_dropped_both_paths_agree(self, spark):
        """NULL-weight (or NULL-endpoint) edges are dropped up front —
        previously the distributed SUM skipped them silently while the
        local twin raised TypeError, breaking the bit-identity
        contract on degenerate inputs."""
        from ayeaye_spark.operators import graph

        edges = spark.createDataFrame(
            [("a", "b", 2), ("b", "c", None), ("c", "a", 1),
             (None, "a", 5), ("b", None, 5)],
            "src string, dst string, w long",
        )
        clean = spark.createDataFrame(
            [("a", "b", 2), ("c", "a", 1)], "src string, dst string, w long"
        )
        local = {(r["node"], r["pr_ppb"]) for r in graph.pagerank_exact(
            edges, "src", "dst", "w", iterations=3).collect()}
        dist = {(r["node"], r["pr_ppb"]) for r in graph.pagerank_exact(
            edges, "src", "dst", "w", iterations=3,
            small_graph_edges=0).collect()}
        want = {(r["node"], r["pr_ppb"]) for r in graph.pagerank_exact(
            clean, "src", "dst", "w", iterations=3).collect()}
        assert local == dist == want
        assert {n for n, _ in want} == {"a", "b", "c"}

    def test_empty_edge_list_yields_empty_ranking(self, spark):
        from ayeaye_spark.operators import graph

        empty = spark.createDataFrame([], "src string, dst string, w long")
        for gate in (100_000, 0):
            out = graph.pagerank_exact(
                empty, "src", "dst", "w", iterations=2,
                small_graph_edges=gate,
            )
            assert out.columns == ["node", "pr_ppb"]
            assert out.count() == 0

    def test_domain_pagerank_catalog_runs_distributed_loop(
        self, spark, monkeypatch
    ):
        """Verdict r10 item 2: the driver-record entry must execute the
        per-iteration join+SUM loop (the one that runs at 100 TB), not
        the driver-local small-graph twin.  The twin is patched to blow
        up if entered; the final plan is a checkpointed LogicalRDD (the
        loop truncates lineage each round), so plan text can't show the
        joins — entry-point interception is the reliable pin."""
        import ayeaye_spark.operators.graph as graph_mod
        from ayeaye_spark.catalog import QUERIES

        def _boom(*a, **k):
            raise AssertionError("docs_domain_pagerank used the local twin")

        monkeypatch.setattr(graph_mod, "_pagerank_exact_local", _boom)
        df = QUERIES["docs_domain_pagerank"](spark, "/root/testdata/sf0.001")
        assert df.columns == ["node", "pr_ppb"]
        assert df.count() > 0


class TestCCProbeGate:
    """connected_components' small-graph gate (round 13, VERDICT r12
    item 6): a trivially-recomputable scan-chain edge frame keeps the
    cheap take-probe (no up-front full materialization); expensive
    derived pipelines keep the eager checkpoint.  Both paths must agree
    with each other and with union-find semantics."""

    def _edges_from_scan(self, spark):
        import pyspark.sql.functions as F

        from ayeaye_spark.catalog import load

        # narrow chain directly over the parquet scan: doc_id -> a
        # synthetic neighbor (doc_id - doc_id%3) builds 3-cliques
        return load(spark, "/root/testdata/sf0.001", "documents").select(
            F.col("doc_id").alias("a"),
            (F.col("doc_id") - F.col("doc_id") % 3).alias("b"),
        )

    def test_probe_classification(self, spark):
        import pyspark.sql.functions as F

        from ayeaye_spark.operators.graph import _cheap_edge_frame

        scan_chain = self._edges_from_scan(spark)
        assert _cheap_edge_frame(scan_chain.select("a", "b"))
        derived = scan_chain.groupBy("a").agg(F.min("b").alias("b"))
        assert not _cheap_edge_frame(derived.select("a", "b"))
        ckpt = scan_chain.localCheckpoint(eager=True)
        assert not _cheap_edge_frame(ckpt.select("a", "b"))

    def test_cheap_and_expensive_paths_agree(self, spark, monkeypatch):
        from ayeaye_spark.core import checkpoint

        scan_chain = self._edges_from_scan(spark)
        # force the derived/eager-checkpoint path with a no-op widening
        # (distinct) of the same edge set
        derived = scan_chain.distinct()
        a = _components(scan_chain)
        assert a == _components(derived) and len(a) > 0
        # and the star rounds agree on both frames; only the derived one
        # pays an up-front edge materialization
        calls = []
        real = checkpoint.materialize
        monkeypatch.setattr(checkpoint, "materialize",
                            lambda df, **kw: calls.append(1) or real(df, **kw))
        assert _components(scan_chain, collect_threshold=0) == a
        n_cheap = len(calls)
        assert _components(derived, collect_threshold=0) == a
        assert len(calls) - n_cheap == n_cheap + 1
