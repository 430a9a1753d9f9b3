"""Unit tests for the analytics tranche: triangle counting, prefix-
filtered set-similarity join, random projection, higher moments,
interpolated percentiles."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup, graph, similarity

from .conftest import SF_DIR


class TestTriangleCount:
    def test_k4_with_pendant(self, spark):
        # K4 on {1,2,3,4}: 4 triangles, every node in 3.  Node 5 dangles.
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(4, 5)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["n_triangles"]
            for r in graph.triangle_count(df).collect()
        }
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_direction_and_duplicates_ignored(self, spark):
        # Same triangle given twice with mixed directions counts once.
        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["n_triangles"]
            for r in graph.triangle_count(df).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}

    def test_triangle_free_graph_empty(self, spark):
        # A path graph has wedges but no closures.
        df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
        assert graph.triangle_count(df).count() == 0


class TestPrefixJaccard:
    def test_equals_bruteforce_on_fixtures(self, spark):
        """Prefix filtering is LOSSLESS: identical pair set + values to
        the all-shingle brute-force join, on the real corpus."""
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        brute = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(docs, n=2, threshold=0.5).collect()
        }
        fast = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.prefix_jaccard_pairs(docs, n=2, threshold=0.5).collect()
        }
        assert fast == brute
        assert brute, "fixture should contain at least one near-dup pair"

    def test_threshold_rational_edge(self, spark):
        # Two docs sharing exactly half their tokens sit ON the 1/3
        # Jaccard boundary: J = 1/3 must be kept at threshold 1/3
        # (integer filter, no float-rounding loss).
        rows = [(1, "a b"), (2, "a c")]  # tokens {a,b} vs {a,c}: J = 1/3
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = dedup.prefix_jaccard_pairs(
            docs, n=1, threshold=1 / 3
        ).collect()
        assert len(got) == 1 and abs(got[0]["jaccard"] - 1 / 3) < 1e-15


class TestContainmentFrequencySplit:
    """containment_pairs is exact at ANY df_cap: the cold/hot split is
    a physical-plan choice, never a semantic one."""

    def _docs(self, spark):
        # "the end" is a hot bigram shared by all docs; each doc also
        # has rarer content. doc 2 is a near-subset of doc 1.
        rows = [
            (1, "alpha beta gamma delta the end"),
            (2, "alpha beta gamma the end"),
            (3, "omega psi chi the end"),
            (4, "the end"),  # all-hot doc: exercises the hot-only path
            (5, "the end"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_same_result_across_caps(self, spark):
        docs = self._docs(spark)
        def run(**kw):
            return {
                (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
                for r in dedup.containment_pairs(docs, threshold_permil=800, **kw).collect()
            }
        pure_cold = run(df_cap=10**9)   # everything cold: naive-equivalent
        split = run(df_cap=1)           # everything with df>1 hot
        auto = run()                    # cost-based cap
        assert pure_cold, "fixture should produce containment pairs"
        assert split == pure_cold
        assert auto == pure_cold
        # the all-hot identical docs must find each other (hot-only path)
        assert (4, 5) in pure_cold and (5, 4) in pure_cold

    def test_matches_fixture_oracle_any_cap(self, spark):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        base = {
            (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
            for r in dedup.containment_pairs(docs, df_cap=10**9).collect()
        }
        forced_split = {
            (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
            for r in dedup.containment_pairs(docs, df_cap=2).collect()
        }
        assert base == forced_split
        assert base, "fixture should contain containment pairs"

    @pytest.mark.exhaustive
    def test_dense_strategy_matches_index_exactly(self, spark):
        """The blocked full-vocabulary-bitmap strategy (the saturated-
        vocab route) must be bit-identical to the index path — both
        pair SET and scores — on the fixture corpus and on the crafted
        hot/cold graph, across block boundaries (tiny block_rows force
        many same- and cross-block tasks)."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.dedup import (
            _containment_dense,
        )

        for docs in (
            spark.read.parquet(f"{SF_DIR}/documents.parquet"),
            self._docs(spark),
        ):
            index = {
                (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
                for r in dedup.containment_pairs(
                    docs, strategy="index"
                ).collect()
            }
            dense = {
                (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
                for r in dedup.containment_pairs(
                    docs, strategy="dense"
                ).collect()
            }
            assert dense == index and index

    def test_dense_gate_routes_on_saturation(self, spark, monkeypatch):
        """auto routes to dense ONLY when the vocabulary is tiny AND
        most token mass stays hot at the cost-based cap; the fixture
        corpus at sf0.001 is cold-dominated and must keep the index
        path, while a fully saturated corpus (every doc = permutations
        of the same few tokens) must route dense."""
        calls = []
        real = dedup._containment_dense

        def spy(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(dedup, "_containment_dense", spy)
        cold = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        dedup.containment_pairs(cold).count()
        assert calls == []  # cold-dominated: index path
        rows = [
            (i, " ".join(["alpha", "beta", "gamma", "delta"][j % 4]
                         for j in range(i % 5, i % 5 + 6)))
            for i in range(60)
        ]
        sat = spark.createDataFrame(rows, "doc_id long, text string")
        # A tight cold budget puts this tiny-vocab corpus in the
        # saturated regime (avg df far above the per-token allowance —
        # at test size the default 512 allowance rightly keeps the
        # cheap naive join, so saturation is induced via the knob).
        dedup.containment_pairs(sat, cold_work_per_token=2).count()
        assert calls == [1]  # saturated tiny vocabulary: dense path

    def test_explicit_df_cap_under_auto_skips_histogram(
        self, spark, monkeypatch
    ):
        """strategy='auto' with an explicit df_cap pins the index path
        with that cap — the df histogram must NOT be collected (it
        would be unused work), while cap-less auto still needs it."""
        calls = []
        real = dedup._df_histogram

        def spy(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(dedup, "_df_histogram", spy)
        docs = self._docs(spark)
        explicit = {
            (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
            for r in dedup.containment_pairs(docs, df_cap=2).collect()
        }
        assert calls == []  # explicit cap: no histogram collect
        auto = {
            (r["doc_a"], r["doc_b"]): round(r["containment"], 12)
            for r in dedup.containment_pairs(docs).collect()
        }
        assert calls == [1]  # cap-less auto still cost-models
        assert explicit == auto and explicit


class TestSparseCosinePairs:
    """Posting-list TF-IDF cosine: set semantics per doc (binary tf)
    and the corpus-relative stopword cap."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_repeated_bigram_counts_once(self, spark):
        """'a b a b' contains the bigram 'a b' twice; the sparse
        vector is over DISTINCT shingles (docstring + oracle), so df,
        norms and dots must all count it once. Hand-computed: doc1 =
        {a b: 5e5, b a: 1e6}, doc2 = {a b: 5e5, b c: 1e6}, dot =
        2.5e11, both nrm2 = 1.25e12 -> cosine exactly 0.2."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text

        docs = self._docs(
            spark, [(1, "a b a b"), (2, "a b c"), (3, "q r")]
        )
        got = text.sparse_cosine_pairs(docs, threshold=0.1).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.doc_a, r.doc_b) == (1, 2)
        assert r.dot == 500_000 * 500_000
        # same IEEE sqrt/multiply/divide chain as the engine computes
        import math

        assert r.cosine == 250_000_000_000 / (
            math.sqrt(1.25e12) * math.sqrt(1.25e12)
        )

    def test_relative_cap_drops_saturated_shingles(self, spark):
        """max_df_permil caps df RELATIVE to corpus size: with 3 docs
        and permil=500 a df=2 shingle is dropped (2000 > 1500) and no
        pair survives; permil=667 keeps it (2000 <= 2001) and the pair
        reappears with the absolute-cap result."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text

        docs = self._docs(
            spark, [(1, "a b a b"), (2, "a b c"), (3, "q r")]
        )
        dropped = text.sparse_cosine_pairs(
            docs, threshold=0.1, max_df_permil=500
        ).collect()
        assert dropped == []
        kept = text.sparse_cosine_pairs(
            docs, threshold=0.1, max_df_permil=667
        ).collect()
        assert [(r.doc_a, r.doc_b, r.dot) for r in kept] == [
            (1, 2, 500_000 * 500_000)
        ]


class TestRandomProjection:
    def test_matches_numpy(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        pdf = emb.orderBy("vec_id").limit(20).toPandas()
        dim = len(pdf["embedding"][0])
        signs = np.array(similarity.projection_signs(dim, 8))  # k x dim
        got = (
            similarity.random_projection(emb, dim=dim, k=8)
            .filter("vec_id < 20")
            .orderBy("vec_id")
            .toPandas()
        )
        for _, row in got.iterrows():
            vec = np.array(
                pdf.loc[pdf["vec_id"] == row["vec_id"], "embedding"].iloc[0],
                dtype=np.float64,
            )
            q = np.floor(vec * 1_000_000 + 0.5).astype(np.int64)
            want = signs @ q
            assert [row[f"r{j}"] for j in range(8)] == list(want)

    def test_signs_are_deterministic_and_balanced(self):
        s1 = similarity.projection_signs(64, 8)
        s2 = similarity.projection_signs(64, 8)
        assert s1 == s2
        flat = [x for row in s1 for x in row]
        assert set(flat) == {-1, 1}
        # md5-derived bits should be roughly balanced
        assert 0.3 < flat.count(1) / len(flat) < 0.7

    def test_sign_derivation_is_md5(self):
        s = similarity.projection_signs(4, 2)
        h = int(hashlib.md5(b"rp#1#3").hexdigest()[:8], 16)
        assert s[1][3] == (1 if h % 2 == 0 else -1)


class TestMoments:
    def test_skew_kurtosis_match_numpy(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.plans import REGISTRY, query_fns

        query_fns()
        got = (
            query_fns()["stats_skew_kurtosis"](spark, SF_DIR).toPandas()
        ).set_index("event_type")
        events = pd.read_parquet(f"{SF_DIR}/events.parquet")
        c = np.floor(events["value"] + 0.5).astype(np.int64)
        for et, grp in c.groupby(events["event_type"]):
            x = grp.to_numpy(dtype=np.float64)
            m2 = x.var()
            skew = ((x - x.mean()) ** 3).mean() / m2**1.5
            kurt = ((x - x.mean()) ** 4).mean() / m2**2 - 3
            assert abs(got.loc[et, "skewness"] - skew) < 1e-9
            assert abs(got.loc[et, "kurtosis_excess"] - kurt) < 1e-9


class TestPercentileCont:
    def test_matches_numpy_linear(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.plans import REGISTRY, query_fns

        query_fns()
        got = (
            REGISTRY["percentile_cont_order_prices"]
            .spark(spark, SF_DIR)
            .toPandas()
            .set_index("status")
        )
        orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
        for st, grp in orders.groupby("o_orderstatus"):
            v = grp["o_totalprice"].to_numpy()
            assert abs(got.loc[st, "p50"] - np.percentile(v, 50)) < 1e-9
            assert abs(got.loc[st, "p90"] - np.percentile(v, 90)) < 1e-9
            assert got.loc[st, "n_rows"] == len(v)


class TestBellmanFord:
    def test_two_hop_cheaper_than_direct(self, spark):
        # 1->3 direct costs 10; 1->2->3 costs 2+3=5. Bounded at 2 hops.
        edges = [(1, 2, 2), (2, 3, 3), (1, 3, 10)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {
            r["node"]: r["dist"]
            for r in graph.bellman_ford(df, sources=[1], iterations=2).collect()
        }
        assert got == {1: 0, 2: 2, 3: 5}

    def test_hop_bound_limits_reach(self, spark):
        # Path 1->2->3->4: one round reaches only node 2.
        edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {
            r["node"]: r["dist"]
            for r in graph.bellman_ford(df, sources=[1], iterations=1).collect()
        }
        assert got == {1: 0, 2: 1}

    def test_source_distance_never_increases(self, spark):
        # A cycle back into the source must not raise dist(source) > 0.
        edges = [(1, 2, 1), (2, 1, 1)]
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {
            r["node"]: r["dist"]
            for r in graph.bellman_ford(df, sources=[1], iterations=3).collect()
        }
        assert got == {1: 0, 2: 1}


class TestBm25:
    def test_rare_term_outranks_common(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        rows = [
            (1, "rare word here"),
            (2, "common common common word"),
            (3, "common word"),
            (4, "nothing matches at all"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = t_ops.bm25_topk(docs, terms=["rare", "common"], k=4).collect()
        by_id = {r["doc_id"]: r for r in got}
        assert 4 not in by_id  # no query term -> not a candidate
        # doc 1 holds the rarest term -> highest score
        assert got[0]["doc_id"] == 1
        assert by_id[2]["n_terms_hit"] == 1
        assert by_id[1]["bm25"] > by_id[2]["bm25"] > 0
        # higher tf of the same term scores higher at equal dl-ish sizes
        assert by_id[2]["bm25"] > by_id[3]["bm25"]


class TestEditDistancePairs:
    def test_finds_all_edit1_kinds(self, spark):
        rows = [
            (1, "kitten"),
            (2, "mitten"),   # substitution
            (3, "kitte"),    # deletion
            (4, "kittens"),  # insertion
            (5, "kitten"),   # exact duplicate
            (6, "zebra"),    # unrelated
        ]
        df = spark.createDataFrame(rows, "id long, name string")
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in dedup.edit_distance_pairs(df, col="name", id_col="id").collect()
        }
        assert got == {
            (1, 2): 1, (1, 3): 1, (1, 4): 1, (1, 5): 0,
            (2, 5): 1, (3, 5): 1, (4, 5): 1,
        }

    def test_distance_two_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, "abcd"), (2, "abxy")], "id long, name string"
        )
        assert dedup.edit_distance_pairs(df, col="name", id_col="id").count() == 0


def _ref_bpe(texts, n_merges):
    """Pure-Python reference BPE (Sennrich-style): overlapping pair
    counts, (count, pair) tie-break, left-to-right non-overlapping
    merge application."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, freq in words.items():
            arr = vocab[w]
            for a, b in zip(arr, arr[1:]):
                pc[(a, b)] += freq
        if not pc:
            break
        (l, r), cnt = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        merges.append((rank, l, r, cnt))
        for w, arr in vocab.items():
            out, i = [], 0
            while i < len(arr):
                if i < len(arr) - 1 and arr[i] == l and arr[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(arr[i])
                    i += 1
            vocab[w] = out
    return merges


class TestBpeTrainer:
    def test_matches_reference_on_fixture_corpus(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        texts = [r["text"] for r in docs.select("text").collect()]
        want = _ref_bpe(texts, 4)
        got = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=4, batch_size=1)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want

    def test_overlapping_counts_and_greedy_merge(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        # "aaaa": counting sees (a,a) x3 (overlapping); merging is
        # greedy left-to-right non-overlapping -> [aa, aa]; round 2
        # then merges (aa, aa).
        docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
        got = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=2, batch_size=1)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


def _ref_bpe_batched(texts, n_merges, batch_size):
    """Pure-Python batch-greedy BPE mirroring
    text.bpe_train_merges_batched's batch rule exactly."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[w] += 1
    vocab = {w: list(w) for w in words}
    merges = []
    while len(merges) < n_merges:
        pc = Counter()
        for w, freq in words.items():
            arr = vocab[w]
            for a, b in zip(arr, arr[1:]):
                pc[(a, b)] += freq
        if not pc:
            break
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        used, adopted = set(), []
        for (l, r), cnt in ranked:
            if len(adopted) >= min(batch_size, n_merges - len(merges)):
                break
            if l in used or r in used:
                continue
            adopted.append((l, r, cnt))
            used.update((l, r, l + r))
        if not adopted:
            break
        for l, r, cnt in adopted:
            merges.append((len(merges) + 1, l, r, cnt))
        for l, r, _ in adopted:
            for w, arr in vocab.items():
                out, i = [], 0
                while i < len(arr):
                    if i < len(arr) - 1 and arr[i] == l and arr[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(arr[i])
                        i += 1
                vocab[w] = out
    return merges


class TestBpeTrainerBatched:
    def test_matches_batched_reference(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        texts = [r["text"] for r in docs.select("text").collect()]
        want = _ref_bpe_batched(texts, 6, 3)
        got = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=6, batch_size=3)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want

    def test_window_widens_when_top_candidates_all_share_symbols(self, spark):
        """The initial 8*batch_size collect window can be saturated by
        pairs that all share a symbol with the first adoption; the
        engine must WIDEN the collect (matching the documented
        full-ranking walk and _ref_bpe_batched) rather than adopt a
        short batch."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        # 17 pairs all containing 'a' (window 16 for batch_size=2 sees
        # only these), plus a disjoint ('x','y') ranked 18th.
        words = ["ab"] * 100
        for i, c in enumerate("cdefghijklmnopqrs"[:16]):
            words += [f"a{c}"] * 3
        words += ["xy"] * 2
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        got = [
            (r["left"], r["right"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=2, batch_size=2)
            .orderBy("merge_rank")
            .collect()
        ]
        texts = [" ".join(words)]
        want = [(l, r) for _, l, r, _ in _ref_bpe_batched(texts, 2, 2)]
        assert got == want
        assert got[1] == ("x", "y")  # found beyond the initial window

    def test_disjointness_within_each_batch(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        # 'ab' dominates; the second-best pair shares 'b' -> must be
        # deferred to the next batch, not adopted alongside.
        docs = spark.createDataFrame(
            [(1, "ab ab ab bc bc")], "doc_id long, text string"
        )
        got = [
            (r["left"], r["right"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=2, batch_size=2)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got[0] == ("a", "b")
        assert got[1] == ("b", "c")  # adopted in round 2, post-recount

    def test_oracle_replay_survives_short_batch(self, spark):
        """If a round has no j-th symbol-disjoint pair (engine adopts a
        SHORT batch), the unrolled DuckDB replay must emit the same
        shorter merge table and keep folding — not collapse to zero
        rows through an empty-CTE CROSS JOIN (the f-twin COALESCE
        guard in `_bpe_train_ctes`)."""
        import duckdb

        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops
        from dlt_salesforce_iceberg_rest_demo_spark.plans.analytics_queries import (
            _bpe_oracle,
        )

        # Single pair type: round 1 adopts (a,b) and nothing else fits
        # its 2-slot batch; round 2 has no pairs at all.
        rows = [(1, "ab ab"), (2, "ab")]
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        got_oracle = con.execute(_bpe_oracle(n_rounds=2, batch=2)).fetchall()
        con.close()
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got_engine = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in t_ops.bpe_train_merges_batched(docs, n_merges=4, batch_size=2)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got_oracle == [(1, "a", "b", 3)]
        assert got_engine == got_oracle


class TestIncrementalJoinDelta:
    def test_delta_formula_equals_recompute(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.incremental_agg import (
            incremental_join_delta,
        )

        a_old = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, av string")
        a_new = spark.createDataFrame([(2, "a2x"), (3, "a3")], "k long, av string")
        b_old = spark.createDataFrame([(1, "b1"), (3, "b3")], "k long, bv string")
        b_new = spark.createDataFrame([(2, "b2"), (3, "b3x")], "k long, bv string")
        full = (
            a_old.unionByName(a_new)
            .join(b_old.unionByName(b_new), "k")
            .collect()
        )
        maintained = (
            a_old.join(b_old, "k")
            .unionByName(incremental_join_delta(a_old, a_new, b_old, b_new, "k"))
            .collect()
        )
        key = lambda r: (r["k"], r["av"], r["bv"])  # noqa: E731
        assert sorted(map(key, maintained)) == sorted(map(key, full))


class TestBatchInference:
    def test_matches_local_scoring_and_batching(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.functions.inference import (
            batch_score,
            md5_score,
        )

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        got = {
            r["doc_id"]: r["score"]
            for r in batch_score(docs, batch_rows=64).collect()
        }
        pdf = docs.select("doc_id", "text").toPandas()
        want = dict(zip(pdf["doc_id"], md5_score(pdf["text"])))
        assert got == want
        assert all(0.0 <= v < 1.0 for v in got.values())

    def test_custom_scorer_plugs_in(self, spark):
        import pandas as pd

        from dlt_salesforce_iceberg_rest_demo_spark.functions.inference import (
            batch_score,
        )

        docs = spark.createDataFrame(
            [(1, "ab"), (2, "abcd")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["score"]
            for r in batch_score(
                docs, score_fn=lambda s: s.str.len().astype("float64")
            ).collect()
        }
        assert got == {1: 2.0, 2: 4.0}


class TestPqSampleTraining:
    @pytest.mark.exhaustive
    def test_recall_holds_on_half_sample(self, spark):
        """Codebooks trained on a deterministic 50% md5 sample must
        still reach the recall bound — the 100 TB training path."""
        from pyspark.sql import functions as F

        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 8)
        exact = similarity.cosine_topk(emb, q, k=5).collect()
        pq = similarity.pq_topk(emb, q, k=5, train_fraction=0.5).collect()
        ex: dict[int, set] = {}
        got: dict[int, set] = {}
        for r in exact:
            ex.setdefault(r.query_id, set()).add(r.corpus_id)
        for r in pq:
            got.setdefault(r.query_id, set()).add(r.corpus_id)
        recall = sum(
            len(ex[k] & got.get(k, set())) / len(ex[k]) for k in ex
        ) / len(ex)
        assert recall >= 0.8, recall
        # the sample genuinely changed training (and ENCODING still
        # covers every vector)
        books = similarity.pq_fit(emb, m=16, n_codes=16, iters=2,
                                  train_fraction=0.5)
        full_books = similarity.pq_fit(emb, m=16, n_codes=16, iters=2)
        assert books != full_books
        enc = similarity._pq_encode_udf(books)
        codes = emb.select("vec_id", enc(F.col("embedding")).alias("codes"))
        assert codes.filter(F.col("codes").isNotNull()).count() == emb.count()

    def test_sample_is_deterministic(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        b1 = similarity.pq_fit(emb, m=8, n_codes=8, iters=1, train_fraction=0.3)
        b2 = similarity.pq_fit(emb, m=8, n_codes=8, iters=1, train_fraction=0.3)
        assert b1 == b2


class TestFunnelTimeBound:
    def test_bound_excludes_late_conversion(self, spark):
        from datetime import datetime

        from dlt_salesforce_iceberg_rest_demo_spark.operators.funnel import (
            ordered_funnel_df,
        )

        rows = [
            # user 1 converts within the hour
            (1, "signup", datetime(2026, 1, 1, 0, 0, 0)),
            (1, "purchase", datetime(2026, 1, 1, 0, 30, 0)),
            # user 2 converts, but 2 hours late
            (2, "signup", datetime(2026, 1, 1, 0, 0, 0)),
            (2, "purchase", datetime(2026, 1, 1, 2, 0, 1)),
        ]
        ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
        unbounded = {
            r["step"]: r["n_users"]
            for r in ordered_funnel_df(ev, ["signup", "purchase"]).collect()
        }
        bounded = {
            r["step"]: r["n_users"]
            for r in ordered_funnel_df(
                ev, ["signup", "purchase"], max_gap_seconds=3600
            ).collect()
        }
        assert unbounded == {"signup": 2, "purchase": 2}
        assert bounded == {"signup": 2, "purchase": 1}

    def test_boundary_is_inclusive(self, spark):
        from datetime import datetime

        from dlt_salesforce_iceberg_rest_demo_spark.operators.funnel import (
            ordered_funnel_df,
        )

        rows = [
            (1, "signup", datetime(2026, 1, 1, 0, 0, 0)),
            (1, "purchase", datetime(2026, 1, 1, 1, 0, 0)),  # exactly 1h
        ]
        ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
        bounded = {
            r["step"]: r["n_users"]
            for r in ordered_funnel_df(
                ev, ["signup", "purchase"], max_gap_seconds=3600
            ).collect()
        }
        assert bounded == {"signup": 1, "purchase": 1}


class TestNonparametricStats:
    """The cross-engine oracle proves Spark==DuckDB; these pin the
    FORMULAS against independent numpy midrank/ECDF references."""

    def _clicks_purchases(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        pdf = (
            load_table(spark, SF_DIR, "events")
            .filter("event_type IN ('click','purchase')")
            .select("value", "event_type")
            .toPandas()
        )
        x = np.floor(pdf["value"].values * 100 + 0.5).astype(np.int64)
        return x, (pdf["event_type"] == "click").values

    def test_mann_whitney_matches_midrank_reference(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns

        x, is_a = self._clicks_purchases(spark)
        order = np.argsort(x, kind="mergesort")
        xs = x[order]
        ranks = np.empty(len(xs), float)
        i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[j] == xs[i]:
                j += 1
            ranks[i:j] = (i + 1 + j) / 2
            i = j
        r = np.empty(len(x), float)
        r[order] = ranks
        n_a, n_b, n = is_a.sum(), (~is_a).sum(), len(x)
        u_a = r[is_a].sum() - n_a * (n_a + 1) / 2
        _, counts = np.unique(x, return_counts=True)
        ties = np.sum(counts.astype(np.int64) ** 3 - counts)
        var = n_a * n_b * ((n + 1) - ties / (n * (n - 1))) / 12
        z = (u_a - n_a * n_b / 2) / np.sqrt(var)

        row = query_fns()["stats_mann_whitney_u"](spark, SF_DIR).collect()[0]
        assert (row["n_a"], row["n_b"]) == (n_a, n_b)
        assert row["u_a"] == u_a
        assert abs(row["z"] - z) < 1e-12

    def test_ks_matches_ecdf_reference(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns

        x, is_a = self._clicks_purchases(spark)
        a, b = np.sort(x[is_a]), np.sort(x[~is_a])
        allv = np.unique(x)
        ca = np.searchsorted(a, allv, side="right").astype(np.int64)
        cb = np.searchsorted(b, allv, side="right").astype(np.int64)
        d_numer = np.max(np.abs(ca * len(b) - cb * len(a)))

        row = query_fns()["stats_ks_two_sample"](spark, SF_DIR).collect()[0]
        assert row["d_numer"] == d_numer
        assert row["ks_stat"] == d_numer / (len(a) * len(b))

    def test_gini_matches_pairwise_reference(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        v = (
            load_table(spark, SF_DIR, "orders")
            .selectExpr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v")
            .toPandas()["v"]
            .values.astype(np.int64)
        )
        # O(n log n) reference via sorted prefix sums (exact integers).
        vs = np.sort(v)
        idx = np.arange(1, len(vs) + 1, dtype=np.int64)
        sumdiff = int(np.sum((2 * idx - len(vs) - 1) * vs))  # sum_ij |xi-xj| / 1
        gini = sumdiff / (len(vs) * int(vs.sum()))

        row = query_fns()["stats_gini_order_prices"](spark, SF_DIR).collect()[0]
        assert row["n_orders"] == len(vs)
        assert abs(row["gini"] - gini) < 1e-12
        assert 0.0 <= row["gini"] <= 1.0


class TestBpeEncode:
    @staticmethod
    def _ref_encode(word: str, merges):
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def test_matches_reference_tokenizer(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        docs = spark.createDataFrame(
            [(1, "the cat batted the cattle"), (2, "a cab at bat"), (3, "")],
            "doc_id long, text string",
        )
        merges = [("a", "t"), ("c", "at"), ("t", "h"), ("th", "e")]
        got = {
            r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in t_ops.bpe_encode(docs, merges).collect()
        }
        for doc_id, sent in [(1, "the cat batted the cattle"), (2, "a cab at bat")]:
            words = [w for w in sent.split(" ") if w]
            n_tokens = sum(len(self._ref_encode(w, merges)) for w in words)
            assert got[doc_id] == (len(words), n_tokens), doc_id
        assert 3 not in got  # empty doc has no words

    def test_zero_merges_is_char_count(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text as t_ops

        docs = spark.createDataFrame([(1, "ab cde")], "doc_id long, text string")
        row = t_ops.bpe_encode(docs, []).collect()[0]
        assert (row["n_words"], row["n_tokens"]) == (2, 5)


class TestMmrTopk:
    """MMR diversified retrieval: redundancy penalty, determinism,
    Spark plumbing == pure-Python reference."""

    def test_redundant_candidate_demoted(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity
        from pyspark.sql import Row

        corpus = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[0.9, 0.436, 0.0]),     # A: most relevant
                Row(vec_id=2, embedding=[0.89, 0.446, 0.06]),   # B: ~dup of A
                Row(vec_id=3, embedding=[0.8, -0.6, 0.0]),      # C: diverse
            ]
        )
        q = spark.createDataFrame([Row(vec_id=100, embedding=[1.0, 0.0, 0.0])])
        out = similarity.mmr_topk(corpus, q, k=3, shortlist=10, lam=0.6)
        order = [r.corpus_id for r in out.orderBy("mmr_rank").collect()]
        # pure relevance order would be [1, 2, 3]; MMR demotes the dup
        assert order == [1, 3, 2]

    def test_matches_python_reference_on_fixtures(self, spark):
        import numpy as np

        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        from pyspark.sql import functions as F

        emb = load_table(spark, SF_DIR, "embeddings")
        queries = emb.filter(F.col("vec_id") < 3)
        out = similarity.mmr_topk(emb, queries, k=5, shortlist=20, lam=0.7)
        got = {
            (r.query_id, r.mmr_rank): r.corpus_id
            for r in out.collect()
        }

        data = {r.vec_id: np.asarray(r.embedding, dtype="float64")
                for r in emb.collect()}
        for qid in [0, 1, 2]:
            qv = data[qid]
            sims = {
                cid: float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
                for cid, v in data.items() if cid != qid
            }
            short = sorted(sims, key=lambda c: (-sims[c], c))[:20]
            unit = {c: data[c] / np.linalg.norm(data[c]) for c in short}
            chosen, penalty = [], {c: -1.0 for c in short}
            for rank in range(1, 6):
                best, best_s = None, -np.inf
                for c in short:
                    if c in chosen:
                        continue
                    p = max(penalty[c], 0.0)
                    s = 0.7 * sims[c] - 0.3 * p
                    if s > best_s:
                        best, best_s = c, s
                chosen.append(best)
                for c in short:
                    penalty[c] = max(penalty[c], float(unit[c] @ unit[best]))
                assert got[(qid, rank)] == best, (qid, rank, got[(qid, rank)], best)


class TestKCore:
    """k-core peeling: unique fixed point, clique survives, tails peel."""

    def _edges(self, spark, pairs):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    def test_clique_survives_tail_peels(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core

        # K4 on {1,2,3,4} plus a tail 4-5-6: the 3-core is exactly K4.
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        out = k_core(self._edges(spark, k4 + [(4, 5), (5, 6)]), k=3)
        rows = {r.node: r.degree for r in out.collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert all(d == 3 for d in rows.values())

    def test_whole_graph_below_k_empty(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core

        out = k_core(self._edges(spark, [(1, 2), (2, 3), (3, 1)]), k=3)
        assert out.count() == 0  # triangle is a 2-core, not a 3-core

    def test_cascading_peel(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core

        # Path 1-2-3-4-5: removing endpoints cascades until nothing
        # has degree >= 2.
        out = k_core(self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]), k=2)
        assert out.count() == 0
        # but close the cycle and everything is a 2-core
        out2 = k_core(
            self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]), k=2
        )
        assert {r.node for r in out2.collect()} == {1, 2, 3, 4, 5}

    def test_max_iter_exhausted_never_returns_sub_k_rows(self, spark):
        """A path graph peels one layer per round; with max_iter=1 the
        peel stops mid-cascade. The contract 'degree >= k for every
        row' must still hold (the result is then a superset of the
        true k-core, which here is empty) — in particular the interior
        nodes whose degree just dropped below k must NOT leak out."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core

        path = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)]
        out = {
            r.node: r.degree
            for r in k_core(self._edges(spark, path), k=2, max_iter=1).collect()
        }
        # round 1 removed endpoints {1,7}; nodes 2 and 6 now have d=1
        # and must be filtered; 3,4,5 legitimately still show d=2.
        assert all(d >= 2 for d in out.values())
        assert 2 not in out and 6 not in out
        assert set(out) == {3, 4, 5}

    def test_matches_reference_peel_on_fixtures(self, spark):
        """Distributed peel == in-memory reference peel on the sf0.001
        customer-part graph (node set AND core degrees)."""
        from collections import defaultdict

        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_core
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey")
        o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
        edges = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select(
                (o["o_custkey"] + 10000000).alias("src"),
                li["l_partkey"].alias("dst"),
            )
            .distinct()
        )
        pairs = [(r.src, r.dst) for r in edges.collect()]
        adj = defaultdict(set)
        for s, d in pairs:
            adj[s].add(d)
            adj[d].add(s)
        k = 8
        a = {u: set(v) for u, v in adj.items()}
        changed = True
        while changed:
            changed = False
            for u in list(a):
                if len(a[u]) < k:
                    for v in a[u]:
                        a[v].discard(u)
                    del a[u]
                    changed = True
        want = {u: len(v) for u, v in a.items()}
        got = {r.node: r.degree for r in k_core(edges, k=k).collect()}
        assert got == want
        assert want, "sf0.001 graph should have a nonempty 8-core"


class TestIvfPersistence:
    """Persisted IVF index: build once to the lake, query path equals
    the build-and-query-in-one operator exactly."""

    @pytest.mark.exhaustive
    def test_query_matches_direct_ivf(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, SF_DIR, "embeddings")
        queries = emb.filter(F.col("vec_id") < 8)
        direct = {
            (r.query_id, r.rank): r.corpus_id
            for r in similarity.ivf_topk(
                emb, queries, k=5, n_centroids=8, n_probe=3, iters=2
            ).collect()
        }
        lake = ParquetLake(spark, tmp_path / "ivf_lake")
        similarity.ivf_build(emb, lake, "emb_idx", n_centroids=8, iters=2)
        via_index = {
            (r.query_id, r.rank): r.corpus_id
            for r in similarity.ivf_query(
                lake, "emb_idx", queries, k=5, n_probe=3
            ).collect()
        }
        assert via_index == direct
        assert direct  # nonempty

    def test_rebuild_is_atomic_snapshot(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        emb = load_table(spark, SF_DIR, "embeddings")
        lake = ParquetLake(spark, tmp_path / "ivf_lake2")
        similarity.ivf_build(emb, lake, "idx", n_centroids=4, iters=1)
        v1 = lake.current_version("idx__assignments")
        similarity.ivf_build(emb, lake, "idx", n_centroids=8, iters=1)
        # one replace commit per rebuild; old index still time-travels
        assert lake.current_version("idx__assignments") == v1 + 1
        assert lake.read("idx__centroids", v1) is not None


class TestPqPersistence:
    """Persisted PQ index: build once to the lake, query path equals
    the fit-and-query-in-one operator exactly; ADC-only mode works
    without the full vectors."""

    @pytest.mark.exhaustive
    def test_query_with_rerank_matches_direct_pq(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, SF_DIR, "embeddings")
        queries = emb.filter(F.col("vec_id") < 8)
        direct = {
            (r.query_id, r.rank): (r.corpus_id, r.cosine)
            for r in similarity.pq_topk(
                emb, queries, k=5, m=16, n_codes=16, iters=2
            ).collect()
        }
        lake = ParquetLake(spark, tmp_path / "pq_lake")
        similarity.pq_build(emb, lake, "emb_pq", m=16, n_codes=16, iters=2)
        via_index = {
            (r.query_id, r.rank): (r.corpus_id, r.cosine)
            for r in similarity.pq_query(
                lake, "emb_pq", queries, k=5, corpus=emb
            ).collect()
        }
        assert via_index == direct
        assert direct  # nonempty

    def test_adc_only_mode_needs_no_vectors(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table
        from pyspark.sql import functions as F

        emb = load_table(spark, SF_DIR, "embeddings")
        queries = emb.filter(F.col("vec_id") < 3)
        lake = ParquetLake(spark, tmp_path / "pq_lake2")
        similarity.pq_build(emb, lake, "idx", m=8, n_codes=8, iters=1)
        rows = similarity.pq_query(lake, "idx", queries, k=4).collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append((r.rank, r.adc_score))
        assert set(by_q) == {0, 1, 2}
        for ranked in by_q.values():
            ranked.sort()
            assert [rk for rk, _ in ranked] == [1, 2, 3, 4]
            scores = [s for _, s in ranked]
            assert scores == sorted(scores, reverse=True)  # ADC-ordered

    def test_rebuild_is_atomic_snapshot(self, spark, tmp_path):
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        emb = load_table(spark, SF_DIR, "embeddings")
        lake = ParquetLake(spark, tmp_path / "pq_lake3")
        similarity.pq_build(emb, lake, "idx", m=8, n_codes=8, iters=1)
        v1 = lake.current_version("idx__codes")
        similarity.pq_build(emb, lake, "idx", m=8, n_codes=16, iters=1)
        assert lake.current_version("idx__codes") == v1 + 1
        assert lake.read("idx__books", v1) is not None


class TestDbscan:
    """DBSCAN roles and labels on planted geometry (eps as cosine)."""

    def _vecs(self, spark, rows):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
        )

    @pytest.mark.exhaustive
    def test_chain_core_border_noise(self, spark):
        import math

        # Angular chain at 0, 5, 10 degrees with eps = cos(8.1deg):
        # only the middle point has 2 neighbors -> core; ends are
        # border; the far vector is noise.
        def ang(d):
            return [math.cos(math.radians(d)), math.sin(math.radians(d)), 0.0]

        corpus = self._vecs(
            spark, [(1, ang(0)), (2, ang(5)), (3, ang(10)), (9, [0.0, 0.0, 1.0])]
        )
        out = {
            r.vec_id: (r.role, r.cluster_id)
            for r in similarity.dbscan(corpus, eps_cosine=0.99, min_pts=2).collect()
        }
        assert out[2] == ("core", 2)
        assert out[1] == ("border", 2) and out[3] == ("border", 2)
        assert out[9] == ("noise", None)

    @pytest.mark.exhaustive
    def test_two_blobs_get_distinct_min_id_labels(self, spark):
        import math

        def ang(d, axis=0):
            c, s = math.cos(math.radians(d)), math.sin(math.radians(d))
            return [c, s, 0.0] if axis == 0 else [0.0, c, s]

        corpus = self._vecs(
            spark,
            [(1, ang(0)), (2, ang(2)), (3, ang(4)),
             (11, ang(0, 1)), (12, ang(2, 1)), (13, ang(4, 1)),
             (99, [0.577, 0.577, 0.578])],
        )
        rows = similarity.dbscan(corpus, eps_cosine=0.99, min_pts=2).collect()
        lbl = {r.vec_id: r.cluster_id for r in rows}
        role = {r.vec_id: r.role for r in rows}
        assert lbl[1] == lbl[2] == lbl[3] == 1
        assert lbl[11] == lbl[12] == lbl[13] == 11
        assert all(role[i] == "core" for i in (1, 2, 3, 11, 12, 13))
        assert role[99] == "noise"

    @pytest.mark.exhaustive
    def test_lsh_candidate_path_agrees_with_exact_on_tight_clusters(self, spark):
        """The composed scale path (lsh_neighbor_pairs -> dbscan) must
        reproduce the exact all-pairs result when within-cluster
        similarity is high enough that every eps-pair collides in at
        least one table (16 tables x 2 planes on the planted blobs:
        per-pair miss probability ~1e-26, and the seeded planes make
        the outcome deterministic either way)."""
        import math

        def ang(d, axis=0):
            c, s = math.cos(math.radians(d)), math.sin(math.radians(d))
            return [c, s, 0.0] if axis == 0 else [0.0, c, s]

        corpus = self._vecs(
            spark,
            [(1, ang(0)), (2, ang(2)), (3, ang(4)),
             (11, ang(0, 1)), (12, ang(2, 1)), (13, ang(4, 1)),
             (99, [0.577, 0.577, 0.578])],
        )
        exact = {
            (r.vec_id, r.cluster_id, r.role)
            for r in similarity.dbscan(corpus, eps_cosine=0.99, min_pts=2).collect()
        }
        pairs = similarity.lsh_neighbor_pairs(
            corpus, eps_cosine=0.99, dim=3, n_planes=2, n_tables=16
        )
        composed = {
            (r.vec_id, r.cluster_id, r.role)
            for r in similarity.dbscan(
                corpus, eps_cosine=0.99, min_pts=2, pairs=pairs
            ).collect()
        }
        assert composed == exact

    @pytest.mark.exhaustive
    def test_auto_route_exact_below_threshold_lsh_above(self, spark, monkeypatch):
        """dbscan(pairs=None) must route on corpus size: exact
        all-pairs at/below exact_max_rows, lsh_neighbor_pairs above —
        and the routed result must agree with exact on geometry where
        LSH recall is ~1 (tight clusters, 16 tables)."""
        import math

        def ang(d, axis=0):
            c, s = math.cos(math.radians(d)), math.sin(math.radians(d))
            return [c, s, 0.0] if axis == 0 else [0.0, c, s]

        corpus = self._vecs(
            spark,
            [(1, ang(0)), (2, ang(2)), (3, ang(4)),
             (11, ang(0, 1)), (12, ang(2, 1)), (13, ang(4, 1)),
             (99, [0.577, 0.577, 0.578])],
        )
        import warnings as _warnings

        calls = []
        real = similarity.lsh_neighbor_pairs

        def spy(*a, **kw):
            calls.append(kw)
            return real(*a, **kw)

        monkeypatch.setattr(similarity, "lsh_neighbor_pairs", spy)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # exact path must be silent
            exact = {
                tuple(r)
                for r in similarity.dbscan(
                    corpus, eps_cosine=0.99, min_pts=2
                ).collect()
            }
        assert calls == []  # 7 rows <= default threshold: exact path
        # the approximate route is never silent: RuntimeWarning required
        with pytest.warns(RuntimeWarning, match="auto-routing.*LSH"):
            routed_df = similarity.dbscan(
                corpus, eps_cosine=0.99, min_pts=2,
                exact_max_rows=5, lsh_planes=2, lsh_tables=16,
            )
        routed = {tuple(r) for r in routed_df.collect()}
        assert len(calls) == 1  # 7 rows > 5: routed to the LSH path
        assert calls[0]["dim"] == 3 and calls[0]["n_tables"] == 16
        assert routed == exact
        # exact_max_rows=None forces the exact path at any size
        calls.clear()
        similarity.dbscan(
            corpus, eps_cosine=0.99, min_pts=2, exact_max_rows=None
        ).collect()
        assert calls == []

    def test_lsh_pairs_are_subset_of_exact_eps_pairs(self, spark):
        """lsh_neighbor_pairs may MISS eps-pairs (approximate recall)
        but must never emit a pair below eps: the exact cosine filter
        runs after candidate generation."""
        import math

        def ang(d):
            return [math.cos(math.radians(d)), math.sin(math.radians(d)), 0.0]

        corpus = self._vecs(
            spark, [(i, ang(15 * i)) for i in range(8)]
        )
        got = {
            (r.id_a, r.id_b)
            for r in similarity.lsh_neighbor_pairs(
                corpus, eps_cosine=0.95, dim=3, n_planes=2, n_tables=8
            ).collect()
        }
        # eps = 0.95 ~= cos(18.2deg): only adjacent 15-degree steps pass
        exact = {(i, i + 1) for i in range(7)}
        assert got <= exact

    def test_lsh_pairs_zero_norm_vectors_never_pair(self, spark):
        """A zero (or sub-quantization) vector has no defined cosine:
        it must appear in NO emitted pair — neither as the low-id
        anchor nor as a higher-id partner (the partner side once
        divided by nd=0 and could emit cos=+inf pairs)."""
        import math

        def ang(d):
            return [math.cos(math.radians(d)), math.sin(math.radians(d)), 0.0]

        # id 0 zero-vector sorts FIRST (partner-side exposure for all),
        # id 9 zero-vector sorts LAST (anchor-side loop reaches it);
        # with 1 plane x 4 tables everything shares buckets often.
        corpus = self._vecs(
            spark,
            [(0, [0.0, 0.0, 0.0]), (1, ang(0)), (2, ang(2)),
             (9, [0.0, 0.0, 0.0])],
        )
        got = {
            (r.id_a, r.id_b)
            for r in similarity.lsh_neighbor_pairs(
                corpus, eps_cosine=0.5, dim=3, n_planes=1, n_tables=4
            ).collect()
        }
        assert got == {(1, 2)}


class TestKTruss:
    """k-truss edge peeling: cliques survive, pendant triangles peel,
    support recomputed within the truss."""

    def _edges(self, spark, pairs):
        from pyspark.sql import Row

        return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])

    def test_k5_survives_pendant_triangle_peels(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_truss

        k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        pendant = [(5, 6), (5, 7), (6, 7)]  # triangle hanging off node 5
        out = k_truss(self._edges(spark, k5 + pendant), k=4)
        edges = {(r.a, r.b): r.support for r in out.collect()}
        # 4-truss: every edge in >= 2 triangles. K5 edges sit in 3;
        # pendant-triangle edges sit in exactly 1 -> peeled.
        assert set(edges) == set(k5)
        assert all(s == 3 for s in edges.values())

    def test_triangle_is_3truss_not_4truss(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_truss

        tri = [(1, 2), (2, 3), (1, 3)]
        assert k_truss(self._edges(spark, tri), k=3).count() == 3
        assert k_truss(self._edges(spark, tri), k=4).count() == 0

    def test_2truss_is_whole_graph_including_triangle_free_edges(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_truss

        # Triangle plus a dangling path edge: k<=2 (need=0) must keep
        # EVERY edge — including the support-0 edge (3,4) that the
        # support relation never lists (it only emits edges in >=1
        # triangle).
        g = [(1, 2), (2, 3), (1, 3), (3, 4)]
        out = {(r.a, r.b): r.support for r in k_truss(self._edges(spark, g), k=2).collect()}
        assert set(out) == set(g)
        assert out[(3, 4)] == 0
        assert out[(1, 2)] == 1

    def test_cascading_support_recount(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators.graph import k_truss

        # Two triangles sharing edge (1,2): each edge is in 1 triangle
        # except the shared one (2). At k=4 (need >= 2) the outer edges
        # peel first, which drops the shared edge's support to 0 -> all
        # edges peel. A single no-recount pass would wrongly keep (1,2).
        bowtie = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
        assert k_truss(self._edges(spark, bowtie), k=4).count() == 0


class TestLocalRelationLanding:
    """Small driver-side lists land as Arrow ``LocalRelation`` leaves, not
    as pickled rows that every execution re-ships through Python workers."""

    @staticmethod
    def _leaves(df) -> list[str]:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]

    def test_driver_lists_are_local_relations(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text
        from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        edges = spark.createDataFrame([(1, 2, 1)], "src long, dst long, w long")
        for sources in ([1, 3], []):
            dist = graph.bellman_ford(edges, sources, iterations=0)
            assert self._leaves(dist) == ["LocalRelation"]
            assert dist.schema.simpleString() == "struct<node:bigint,dist:bigint>"
            assert sorted(tuple(r) for r in dist.collect()) == [(s, 0) for s in sources]
        assert graph.bellman_ford(edges, [], iterations=2).collect() == []

        docs = load_table(spark, SF_DIR, "documents")
        mixed = text.mix_to_target(docs, {"en": 600, "de": 400})
        assert set(self._leaves(mixed)) == {"LogicalRelation", "LocalRelation"}

        fns = query_fns()
        mix_query = fns["corpus_mix_to_target"](spark, SF_DIR)
        assert set(self._leaves(mix_query)) == {"LogicalRelation", "LocalRelation"}
        # _pq_search's query ids
        assert "LocalRelation" in self._leaves(fns["similarity_pq_topk"](spark, SF_DIR))

        # the BPE merge list, and _containment_dense's block pairs
        merges = text.bpe_train_merges_batched(docs, n_merges=2)
        assert self._leaves(merges) == ["LocalRelation"]
        assert merges.count() == 2
        dense = dedup.containment_pairs(docs, strategy="dense")
        assert "LocalRelation" in self._leaves(dense)

    def test_index_builds_hand_the_lake_arrow(self, spark, tmp_path, monkeypatch):
        """The IVF centroids and the PQ codebooks reach the lake as
        driver-side Arrow tables, which it writes with no Spark job."""
        import uuid

        import pyarrow as pa

        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import ParquetLake
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        sc = spark.sparkContext
        replace, seen = ParquetLake.replace, {}

        def replace_spy(self, batch, table):
            group = f"replace-{uuid.uuid4().hex}"
            sc.setJobGroup(group, table)
            try:
                return replace(self, batch, table)
            finally:
                sc._jsc.clearJobGroup()
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                seen[table] = (isinstance(batch, pa.Table), jobs)

        monkeypatch.setattr(ParquetLake, "replace", replace_spy)
        emb = load_table(spark, SF_DIR, "embeddings")
        lake = ParquetLake(spark, tmp_path / "lake")
        centroids = similarity.ivf_build(emb, lake, "ivf", n_centroids=4, iters=1)
        books = similarity.pq_build(emb, lake, "pq", m=8, n_codes=8, iters=1)
        assert seen["ivf__centroids"] == (True, 0)
        assert seen["pq__books"] == (True, 0)
        assert lake.count("ivf__centroids") == len(centroids) * len(centroids[0])
        assert lake.count("pq__books") == sum(len(c) for book in books for c in book)
        assert dict(lake.read("ivf__centroids").dtypes) == {
            "cluster": "bigint", "pos": "bigint", "val": "double",
        }

    def test_empty_results_are_local_relations(self, spark, tmp_path):
        """The registry's hand-built empty results land as an empty Arrow
        table: a ``LocalRelation`` whose collect runs no Spark job."""
        import uuid

        from dlt_salesforce_iceberg_rest_demo_spark.plans import query_fns
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        for name in ("orders", "embeddings"):
            load_table(spark, SF_DIR, name).limit(0).write.parquet(
                str(tmp_path / f"{name}.parquet")
            )
        fns = query_fns()
        cdc = "o_orderkey long, final_price double, final_status string, last_version long"
        sc = spark.sparkContext
        for query, ddl in (
            ("similarity_pq_persisted_topk", "query_id long, corpus_id long, cosine double, rank long"),
            ("cdc_guarded_out_of_order", cdc),
            ("cdc_guarded_timestamp_versions", cdc),
        ):
            df = fns[query](spark, str(tmp_path))
            assert self._leaves(df) == ["LocalRelation"], query
            assert df.schema == spark.createDataFrame([], ddl).schema, query
            group = f"empty-result-{uuid.uuid4().hex}"
            sc.setJobGroup(group, query)
            try:
                assert df.collect() == [], query
            finally:
                sc._jsc.clearJobGroup()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert sc.statusTracker().getJobIdsForGroup(group) == [], query
