"""Dedup / similarity / as-of operators beyond the oracle checks:
recall, planted-duplicate recovery, merge_asof equivalence."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_platform_copilot_spark.operators.asof import asof_join_backward
from data_platform_copilot_spark.operators.dedup import (
    exact_duplicates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash,
)
from data_platform_copilot_spark.operators.similarity import (
    brute_force_topk,
    srp_lsh_topk,
)
from data_platform_copilot_spark.sources import load_table


class TestExactDedup:
    def test_planted_exact_dupes(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
            "doc_id long, text string")
        out = exact_duplicates(df, "doc_id", "text").collect()
        by_id = {r["doc_id"]: r for r in out}
        # case/whitespace-insensitive: 1 and 2 cluster together
        assert by_id[1]["cluster_id"] == 1 and not by_id[1]["is_duplicate"]
        assert by_id[2]["cluster_id"] == 1 and by_id[2]["is_duplicate"]
        assert by_id[3]["cluster_id"] == 3


class TestMinHashLsh:
    def test_lsh_finds_planted_near_dupes(self, spark, sf_dir):
        """The testdata documents table has planted near-duplicate
        pairs (jaccard ~0.99); LSH candidates must recover every pair
        that exact jaccard >= 0.9 finds."""
        docs = load_table(spark, sf_dir, "documents")
        sh = shingles(docs, "doc_id", "text", n=3)
        truth = {(r["id_a"], r["id_b"])
                 for r in jaccard_pairs(sh, threshold=0.9).collect()}
        assert truth, "testdata should contain planted near-dupes"
        sig = minhash_signatures(sh, num_hashes=16)
        cand = {(r["id_a"], r["id_b"])
                for r in lsh_candidate_pairs(sig, bands=4).collect()}
        missed = truth - cand
        assert not missed, f"LSH missed near-dupes: {missed}"


class TestSimhash:
    def test_near_dupes_have_close_fingerprints(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        sh = shingles(docs, "doc_id", "text", n=3)
        pair = jaccard_pairs(sh, threshold=0.95).limit(1).collect()
        if not pair:
            pytest.skip("no >=0.95 pair at this sf")
        a, b = pair[0]["id_a"], pair[0]["id_b"]
        fp = {r["id"]: r["simhash"]
              for r in simhash(docs.where(F.col("doc_id").isin(a, b)),
                               "doc_id", "text").collect()}
        hamming = bin(fp[a] ^ fp[b]).count("1")
        assert hamming <= 4, f"near-dup pair far apart: {hamming} bits"


class TestAnn:
    def test_bruteforce_topk_is_exact(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.where(F.col("vec_id") == 0)
        got = brute_force_topk(emb, q, "vec_id", "embedding", k=3).collect()
        assert [r["rank"] for r in got] == [1, 2, 3]
        assert got[0]["cosine"] >= got[1]["cosine"] >= got[2]["cosine"]

    @pytest.mark.slow
    def test_srp_lsh_recall(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 5)
        truth = brute_force_topk(emb, queries, "vec_id", "embedding",
                                 k=10).collect()
        # This corpus has near-orthogonal embeddings (top-10 cosine
        # ~0.3-0.5), the hard case for SRP-LSH: use shallow tables
        # (fewer planes) and more of them.
        approx = srp_lsh_topk(emb, queries, "vec_id", "embedding",
                              k=10, n_planes=4, tables=10).collect()
        t = {(r["query_id"], r["neighbor_id"]) for r in truth}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx}
        recall = len(t & a) / len(t)
        assert recall >= 0.55, f"SRP-LSH recall too low: {recall:.2f}"

    @pytest.mark.slow
    def test_ivf_recall_and_probe_scaling(self, spark, sf_dir):
        """IVF with 8/16 cells probed must beat a recall floor on the
        near-orthogonal corpus (hard case); probing ALL cells must be
        exact (= brute force)."""
        from data_platform_copilot_spark.operators.similarity import ivf_topk
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.where(F.col("vec_id") < 5)
        truth = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(emb, queries, "vec_id",
                                           "embedding", k=10).collect()}
        half = {(r["query_id"], r["neighbor_id"])
                for r in ivf_topk(emb, queries, "vec_id", "embedding",
                                  k=10, n_clusters=16, n_probe=8,
                                  iters=2).collect()}
        recall = len(truth & half) / len(truth)
        assert recall >= 0.6, f"IVF recall too low: {recall:.2f}"
        full = {(r["query_id"], r["neighbor_id"])
                for r in ivf_topk(emb, queries, "vec_id", "embedding",
                                  k=10, n_clusters=16, n_probe=16,
                                  iters=2).collect()}
        assert full == truth


@pytest.mark.slow
class TestPq:
    def test_pq_recall_and_shortlist_exactness(self, spark, sf_dir):
        """PQ+refine recall floor on the near-orthogonal corpus; a
        corpus-sized shortlist must equal brute force (the refine
        stage is exact, so PQ error can only shrink the shortlist)."""
        from data_platform_copilot_spark.operators.similarity import pq_topk
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        queries = emb.where(F.col("vec_id") < 5)
        truth = {(r["query_id"], r["neighbor_id"])
                 for r in brute_force_topk(emb, queries, "vec_id",
                                           "embedding", k=10).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in pq_topk(emb, queries, "vec_id", "embedding",
                                   k=10, shortlist=40).collect()}
        # near-orthogonal vectors are PQ's hard case (reconstruction
        # error is the same scale as the cosine gaps): 0.5 floor at a
        # 40-row shortlist, exactness proven at a full shortlist below
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.5, f"PQ recall too low: {recall:.2f}"
        full = {(r["query_id"], r["neighbor_id"])
                for r in pq_topk(emb, queries, "vec_id", "embedding",
                                 k=10, shortlist=n).collect()}
        assert full == truth

    def test_codes_match_build_assignment(self, spark, sf_dir):
        """The JVM encode expression and the build's numpy argmin
        agree on every vector (same expanded-L2 arithmetic)."""
        import numpy as np
        from data_platform_copilot_spark.operators.similarity import (
            pq_code_expr, pq_codebooks)
        emb = load_table(spark, sf_dir, "embeddings").limit(200)
        books = pq_codebooks(emb, "vec_id", "embedding")
        rows = (emb.select(
            "vec_id",
            pq_code_expr(F.col("embedding").cast("array<double>"),
                         books).alias("codes"),
            F.col("embedding").cast("array<double>").alias("v"))
            .collect())
        b = np.array(books)            # (m, ks, d)
        cc = np.einsum("mkd,mkd->mk", b, b)
        for r in rows:
            sub = np.array(r["v"]).reshape(b.shape[0], b.shape[2])
            cross = np.einsum("md,mkd->mk", sub, b)
            expect = np.argmin(cc - 2.0 * cross, axis=1)
            assert list(r["codes"]) == list(expect)


class TestEmbeddingDedup:
    def test_blocked_gemm_equals_expression_pairs(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.dedup import (
            embedding_near_duplicates)
        emb = load_table(spark, sf_dir, "embeddings")
        exact = {(r["id_a"], r["id_b"])
                 for r in embedding_near_duplicates(
                     emb, "vec_id", "embedding", threshold=0.45,
                     method="pairs").collect()}
        blocked = {(r["id_a"], r["id_b"])
                   for r in embedding_near_duplicates(
                       emb, "vec_id", "embedding", threshold=0.45,
                       method="blocked", blocks=5).collect()}
        assert blocked == exact and exact

    def test_lsh_recovers_planted_vector_dupes(self, spark):
        """Planted near-identical vectors (cosine ~0.999) must all be
        recovered by the LSH-bucketed gemm path."""
        import numpy as np
        rng = np.random.default_rng(7)
        base = rng.standard_normal((50, 64))
        rows = [(i, base[i].tolist()) for i in range(50)]
        # plant 10 near-dupes: id 100+i = id i + tiny noise
        for i in range(10):
            rows.append((100 + i, (base[i] + 0.01 * rng.standard_normal(64))
                         .tolist()))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from data_platform_copilot_spark.operators.dedup import (
            embedding_near_duplicates)
        got = {(r["id_a"], r["id_b"])
               for r in embedding_near_duplicates(
                   df, "vec_id", "embedding", threshold=0.99,
                   method="lsh", n_planes=8, tables=8).collect()}
        want = {(i, 100 + i) for i in range(10)}
        assert want <= got, f"LSH missed planted dupes: {want - got}"

    def test_lsh_tiled_gemm_equals_untiled(self, spark):
        """Hot-bucket cap (r13 verdict #2): forcing tiny tiles must
        reproduce the untiled pass exactly — same pairs, same cosines
        — on a corpus with planted near-dupes spread across buckets."""
        import numpy as np
        rng = np.random.default_rng(23)
        base = rng.standard_normal((80, 64))
        rows = [(i, base[i].tolist()) for i in range(80)]
        for i in range(20):
            rows.append((200 + i,
                         (base[i] + 0.01 * rng.standard_normal(64))
                         .tolist()))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        from data_platform_copilot_spark.operators.dedup import (
            embedding_near_duplicates)

        def run(cap):
            return {(r["id_a"], r["id_b"], round(r["cosine"], 9))
                    for r in embedding_near_duplicates(
                        df, "vec_id", "embedding", threshold=0.95,
                        method="lsh", n_planes=4, tables=8,
                        max_bucket_gemm=cap).collect()}

        untiled = run(4096)      # one diagonal tile per segment
        assert untiled           # planted dupes actually surface
        assert run(7) == untiled    # odd cap: ragged tail tiles
        assert run(2) == untiled    # pathological cap: many off-diag

    @pytest.mark.slow
    def test_lsh_hot_bucket_capped_completes_exactly(self, spark):
        """A degenerate corpus — 5,000 identical vectors, every one in
        the SAME bucket of every table — must complete under a small
        cap (tiled sub-gemms, bounded peak memory) and emit exactly
        C(5000,2) pairs, each once (first-colliding-table rule stops
        tables 1..7 from re-emitting)."""
        import numpy as np
        v = np.random.default_rng(5).standard_normal(16)
        df = spark.range(5000).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(float(x)) for x in v]).alias("embedding"))
        from data_platform_copilot_spark.operators.dedup import (
            embedding_near_duplicates)
        n = embedding_near_duplicates(
            df, "vec_id", "embedding", threshold=0.99,
            method="lsh", n_planes=4, tables=8, dim=16,
            max_bucket_gemm=512).count()
        assert n == 5000 * 4999 // 2


class TestSemanticDedup:
    def _corpus(self, spark):
        import numpy as np
        rng = np.random.default_rng(11)
        base = rng.standard_normal((60, 64))
        rows = [(i, base[i].tolist()) for i in range(60)]
        for i in range(12):  # plant 12 near-copies: 100+i ~ i
            rows.append((100 + i, (base[i] + 0.01 * rng.standard_normal(64))
                         .tolist()))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_min_id_policy_flags_planted_copies(self, spark):
        from data_platform_copilot_spark.operators.dedup import (
            semantic_duplicates)
        out = {r["vec_id"]: r for r in semantic_duplicates(
            self._corpus(spark), "vec_id", "embedding", n_clusters=6,
            threshold=0.95, keep="min_id").collect()}
        assert len(out) == 72
        for i in range(12):
            assert out[100 + i]["is_duplicate"]
            assert out[100 + i]["dup_of"] == i
        dupes = {k for k, r in out.items() if r["is_duplicate"]}
        assert dupes == {100 + i for i in range(12)}

    def test_centroid_policy_drops_exactly_one_per_pair(self, spark):
        """Paper policy: the pair member CLOSER to its centroid loses;
        each planted pair yields exactly one duplicate pointing at its
        counterpart, and nothing else is flagged."""
        from data_platform_copilot_spark.operators.dedup import (
            semantic_duplicates)
        out = {r["vec_id"]: r for r in semantic_duplicates(
            self._corpus(spark), "vec_id", "embedding", n_clusters=6,
            threshold=0.95, keep="centroid").collect()}
        flagged = {k for k, r in out.items() if r["is_duplicate"]}
        for i in range(12):
            pair = {i, 100 + i}
            lost = pair & flagged
            assert len(lost) == 1, f"pair {pair}: flagged {lost}"
            loser = lost.pop()
            assert out[loser]["dup_of"] == (pair - {loser}).pop()
            # near-identical vectors must co-cluster
            assert out[i]["cluster_id"] == out[100 + i]["cluster_id"]
        assert flagged <= {i for i in range(12)} | {100 + i
                                                    for i in range(12)}

    def test_unknown_keep_policy_raises(self, spark):
        from data_platform_copilot_spark.operators.dedup import (
            semantic_duplicates)
        with pytest.raises(ValueError, match="keep"):
            semantic_duplicates(self._corpus(spark), "vec_id",
                                "embedding", keep="newest")


class TestTemperatureMixSample:
    def _df(self, spark):
        rows = ([(i, "big") for i in range(800)]
                + [(10000 + i, "mid") for i in range(150)]
                + [(20000 + i, "small") for i in range(50)])
        return spark.createDataFrame(rows, "k long, dom string")

    def test_flattens_toward_uniform(self, spark):
        from data_platform_copilot_spark.operators.sampling import (
            temperature_mix_sample)
        out = temperature_mix_sample(self._df(spark), "dom", "k",
                                     temperature=2.0)
        got = {r["dom"]: r["n"] for r in
               out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
        # scarcest domain kept ~whole; dominant domain down-sampled
        assert got["small"] >= 45
        assert got["big"] < 800
        # flattened: big/small ratio shrinks from 16x toward sqrt(16)=4x
        assert got["big"] / got["small"] < 8

    def test_t1_keeps_natural_mix(self, spark):
        from data_platform_copilot_spark.operators.sampling import (
            temperature_mix_sample)
        df = self._df(spark)
        out = temperature_mix_sample(df, "dom", "k", temperature=1.0)
        # T=1 -> every rate is 1.0 -> identity sample
        assert out.count() == df.count()

    def test_invalid_temperature_raises(self, spark):
        from data_platform_copilot_spark.operators.sampling import (
            temperature_mix_sample)
        with pytest.raises(ValueError, match="temperature"):
            temperature_mix_sample(self._df(spark), "dom", "k",
                                   temperature=0.0)


class TestGopherQualityFilter:
    def test_each_rule_fires_on_its_own_violation(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            gopher_quality_filter)
        good = ("the quick brown fox jumps over the lazy dog and then "
                "runs off to the woods with a happy bark and a wag ") * 2
        df = spark.createDataFrame(
            [(1, good),                      # passes everything
             (2, "the of and to a"),         # too few words
             (3, "zz " * 60),                # no stopwords, short words
             (4, ("# " * 30) + good)],       # symbol ratio blown
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in gopher_quality_filter(
            df, "doc_id", "text", min_words=20).collect()}
        assert out[1]["keep"]
        assert not out[2]["ok_word_count"] and not out[2]["keep"]
        assert not out[3]["ok_stopwords"] and not out[3]["keep"]
        assert not out[3]["ok_mean_word_len"]  # mean len 2.0 < 3.0
        assert not out[4]["ok_symbol_ratio"] and not out[4]["keep"]
        # the symbol-heavy doc still counts its words honestly
        assert out[4]["n_words"] == 30 + out[1]["n_words"]

    def test_paper_defaults_enforce_50_word_floor(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            gopher_quality_filter)
        df = spark.createDataFrame(
            [(1, "the and of to a word list that is only twenty long "
                 "with some more filler here to be sure")],
            "doc_id long, text string")
        row = gopher_quality_filter(df, "doc_id", "text").collect()[0]
        assert not row["ok_word_count"] and not row["keep"]


class TestSpanDedup:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        from data_platform_copilot_spark.operators.dedup import span_dedup
        rep = "one two three four five"          # 5-word span, repeated
        df = spark.createDataFrame(
            [(1, rep + " alpha beta gamma delta eps"),
             (2, rep + " zeta eta theta iota kappa"),   # span 0 dup of doc1
             (3, "wholly unique words in this doc here")],
            "doc_id long, text string")
        out = {r["id"]: r for r in
               span_dedup(df, "doc_id", "text", span_words=5).collect()}
        assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
        assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1  # lost span 0
        assert out[3]["n_kept"] == out[3]["n_spans"]
        # doc2's cleaned text is exactly its surviving second span
        import hashlib
        assert out[2]["clean_fp"] == hashlib.md5(
            b"zeta eta theta iota kappa").hexdigest()

    def test_fully_duplicated_doc_hashes_empty(self, spark):
        from data_platform_copilot_spark.operators.dedup import span_dedup
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")],
            "doc_id long, text string")
        out = {r["id"]: r for r in
               span_dedup(df, "doc_id", "text", span_words=5).collect()}
        import hashlib
        assert out[2]["n_kept"] == 0
        assert out[2]["clean_fp"] == hashlib.md5(b"").hexdigest()


class TestDecontamination:
    def test_planted_overlap_flags(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            decontaminate)
        bench = "alpha beta gamma delta epsilon"
        train = spark.createDataFrame(
            [(1, "prefix " + bench + " suffix"),     # contains the 5-gram
             (2, "completely unrelated training words here"),
             (3, "alpha beta gamma different tail words")],  # only 3 shared
            "doc_id long, text string")
        eval_df = spark.createDataFrame(
            [(100, bench)], "doc_id long, text string")
        out = {r["id"]: r for r in decontaminate(
            train, "doc_id", "text", eval_df, "doc_id", "text",
            n=5).collect()}
        assert out[1]["contaminated"] and out[1]["n_hit_ngrams"] == 1
        assert not out[2]["contaminated"]
        assert not out[3]["contaminated"]   # shares <n-gram, no flag

    def test_short_docs_emit_no_grams(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            decontaminate)
        train = spark.createDataFrame(
            [(1, "too short")], "doc_id long, text string")
        eval_df = spark.createDataFrame(
            [(100, "too short")], "doc_id long, text string")
        row = decontaminate(train, "doc_id", "text",
                            eval_df, "doc_id", "text", n=5).collect()[0]
        assert row["n_hit_ngrams"] == 0 and not row["contaminated"]


class TestIncrementalDedup:
    def _frames(self, spark):
        hist = spark.createDataFrame(
            [(0, "alpha beta"), (3, "gamma delta"), (6, "epsilon zeta")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(10, "alpha  BETA "),   # history dup (normalizes to hist 0)
             (11, "fresh one"),
             (12, "fresh two"),
             (13, "fresh one"),      # batch dup of 11
             (14, "gamma delta")],   # history dup of 3
            "doc_id long, text string")
        return hist, batch

    def test_three_way_verdict(self, spark):
        from data_platform_copilot_spark.operators.dedup import (
            fingerprint_store, incremental_duplicates)
        hist, batch = self._frames(spark)
        store = fingerprint_store(hist, "doc_id", "text")
        out = {r["doc_id"]: r for r in incremental_duplicates(
            batch, store, "doc_id", "text").collect()}
        assert out[10]["status"] == "history_dup" and out[10]["dup_of"] == 0
        assert out[14]["status"] == "history_dup" and out[14]["dup_of"] == 3
        assert out[13]["status"] == "batch_dup" and out[13]["dup_of"] == 11
        assert out[11]["status"] == "new" and out[11]["dup_of"] is None
        assert out[12]["status"] == "new" and out[12]["dup_of"] is None

    def test_advancing_the_store_is_idempotent(self, spark):
        """Merging the batch's keepers into the store and re-running
        the SAME batch must yield 100% history_dup — the retry/replay
        safety property an ingestion pipeline needs."""
        from data_platform_copilot_spark.operators.dedup import (
            fingerprint_store, incremental_duplicates)
        hist, batch = self._frames(spark)
        store = fingerprint_store(hist, "doc_id", "text")
        first = incremental_duplicates(batch, store, "doc_id", "text")
        keeper_ids = [r["doc_id"] for r in
                      first.where("status = 'new'").collect()]
        advanced = (store.unionByName(fingerprint_store(
            batch.where(F.col("doc_id").isin(keeper_ids)),
            "doc_id", "text"))
            .groupBy("fingerprint")
            .agg(F.min("first_id").alias("first_id")))
        replay = incremental_duplicates(batch, advanced, "doc_id", "text")
        statuses = {r["status"] for r in replay.collect()}
        assert statuses == {"history_dup"}


class TestRepetitionSignals:
    def test_known_answers(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            repetition_signals)
        df = spark.createDataFrame(
            [(1, "a a a b"),          # a=3/4; "a a"=2/3; trigrams: "a a a","a a b" distinct -> dup 0
             (2, "x y x y x y"),      # x=3/6; "x y"=3/5; trigrams: xyx,yxy,xyx,yxy -> 2 distinct of 4 -> dup 0.5
             (3, "q w")],             # no trigrams -> NULL dup frac
            "doc_id long, text string")
        out = {r["id"]: r for r in repetition_signals(
            df, "doc_id", "text").collect()}
        assert out[1]["top_token_share"] == pytest.approx(0.75)
        assert out[1]["top_bigram_share"] == pytest.approx(2 / 3)
        assert out[1]["dup_trigram_frac"] == pytest.approx(0.0)
        assert out[2]["top_token_share"] == pytest.approx(0.5)
        assert out[2]["top_bigram_share"] == pytest.approx(0.6)
        assert out[2]["dup_trigram_frac"] == pytest.approx(0.5)
        assert out[3]["dup_trigram_frac"] is None
        assert out[3]["top_bigram_share"] == pytest.approx(1.0)


class TestAsofJoin:
    def test_matches_pandas_merge_asof(self, spark):
        left = pd.DataFrame({
            "k": [1, 1, 1, 2, 2],
            "lts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00",
                                   "2024-01-01 09:00", "2024-01-01 10:30",
                                   "2024-01-01 08:00"]),
            "lid": [10, 11, 12, 20, 21],
        })
        right = pd.DataFrame({
            "k": [1, 1, 2],
            "rts": pd.to_datetime(["2024-01-01 09:30", "2024-01-01 10:30",
                                   "2024-01-01 10:30"]),
        })
        sl = spark.createDataFrame(left)
        sr = spark.createDataFrame(right)
        got = (asof_join_backward(sl, sr, by="k", left_ts="lts",
                                  right_ts="rts", right_cols=["rts"])
               .toPandas().sort_values("lid").reset_index(drop=True))
        exp = pd.merge_asof(
            left.sort_values("lts"), right.sort_values("rts"),
            left_on="lts", right_on="rts", by="k", direction="backward",
        ).sort_values("lid").reset_index(drop=True)
        assert (got["rts"].fillna(pd.Timestamp(0)).tolist()
                == exp["rts"].fillna(pd.Timestamp(0)).tolist())

    def test_equal_timestamps_included(self, spark):
        from datetime import datetime
        ts = datetime(2024, 1, 1, 10, 0)
        sl = spark.createDataFrame([(1, ts, 1)],
                                   "k long, lts timestamp, lid long")
        sr = spark.createDataFrame([(1, ts)], "k long, rts timestamp")
        got = asof_join_backward(sl, sr, "k", "lts", "rts",
                                 ["rts"]).collect()
        assert got[0]["rts"] == pd.Timestamp("2024-01-01 10:00")


class TestSampling:
    def test_deterministic_sample_is_stable(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.sampling import (
            deterministic_sample,
        )
        cust = load_table(spark, sf_dir, "customer")
        a = {r["c_custkey"] for r in
             deterministic_sample(cust, "c_custkey", 0.2).collect()}
        b = {r["c_custkey"] for r in
             deterministic_sample(cust, "c_custkey", 0.2).collect()}
        assert a == b and 0.1 < len(a) / cust.count() < 0.3
        # monotone: a smaller fraction is a subset of a larger one
        s10 = {r["c_custkey"] for r in
               deterministic_sample(cust, "c_custkey", 0.1).collect()}
        assert s10 <= a

    def test_stratified_fractions_approx(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.sampling import (
            stratified_sample,
        )
        cust = load_table(spark, sf_dir, "customer")
        frac = {"BUILDING": 0.5, "MACHINERY": 0.1}
        out = stratified_sample(cust, "c_mktsegment", frac, seed=7)
        got = {r["c_mktsegment"]: r["cnt"] for r in
               out.groupBy("c_mktsegment")
                  .agg(F.count("*").alias("cnt")).collect()}
        totals = {r["c_mktsegment"]: r["cnt"] for r in
                  cust.groupBy("c_mktsegment")
                      .agg(F.count("*").alias("cnt")).collect()}
        assert set(got) <= set(frac)
        for seg, f in frac.items():
            share = got.get(seg, 0) / totals[seg]
            assert abs(share - f) < 0.25, (seg, share)

    def test_key_skew_report(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.sampling import (
            key_skew_report,
        )
        ev = load_table(spark, sf_dir, "events")
        rep = key_skew_report(ev, "event_type", top=3)
        assert rep["n_keys"] == 5
        assert rep["total"] == ev.count()
        assert 0.15 < rep["max_share"] < 0.35
        assert len(rep["top"]) == 3


class TestChunkingAndPacking:
    def test_chunks_reconstruct_document(self, spark):
        """Stripping the overlap from consecutive chunks must
        reconstruct the normalized document exactly."""
        from data_platform_copilot_spark.operators.quality import (
            chunk_documents)
        text = " ".join(f"w{i}" for i in range(100))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(chunk_documents(df, "doc_id", "text",
                                      chunk_tokens=32, overlap=8).collect(),
                      key=lambda r: r["chunk_idx"])
        rebuilt = rows[0]["chunk_text"].split(" ")
        for r in rows[1:]:
            rebuilt += r["chunk_text"].split(" ")[8:]
        assert rebuilt == text.split(" ")
        # each chunk spans min(32, remaining) tokens from its start
        assert all(r["n_tokens"] == min(32, 100 - r["start_token"] + 1)
                   for r in rows)

    def test_packing_bins_fill_to_capacity(self, spark, sf_dir):
        """Within a shard, every bin except the last must reach
        capacity (concat-and-cut leaves no slack)."""
        from data_platform_copilot_spark.operators.quality import (
            chunk_documents, pack_chunks)
        docs = load_table(spark, sf_dir, "documents")
        ch = chunk_documents(docs, "doc_id", "text",
                             chunk_tokens=32, overlap=8)
        packed = pack_chunks(ch, "id", "chunk_idx", "n_tokens",
                             capacity=512, shards=4).toPandas()
        for shard, grp in packed.groupby("shard"):
            grp = grp.sort_values(["id", "chunk_idx"])
            last_bin = grp["bin"].max()
            spans = grp[grp["bin"] < last_bin]
            if len(spans):
                # last chunk of each non-final bin crosses the cut
                ends = spans.groupby("bin").tail(1)
                assert ((ends["token_offset"] + ends["n_tokens"])
                        >= (ends["bin"] + 1) * 512).all()

    def test_quantization_error_bound(self, spark, sf_dir):
        """Dequant error per element is bounded by 0.5/scale, so the
        mean must be too."""
        from data_platform_copilot_spark.operators.embeddings import (
            dequant_error)
        emb = load_table(spark, sf_dir, "embeddings")
        out = dequant_error(emb, "vec_id", "embedding").collect()
        assert out
        for r in out:
            assert r["mean_abs_err"] <= 0.5 / r["scale"] + 1e-12


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from data_platform_copilot_spark.operators.graph import (
            connected_components)
        # chain 1-2-3-4-5 (diameter 4: needs multiple rounds) + island 10-11
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
            "id_a long, id_b long")
        got = {r["id"]: r["cluster"]
               for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    @pytest.mark.slow
    def test_long_chain_bounded_lineage(self, spark):
        """50-round chain: convergence past many localCheckpoint cycles
        (r2 verdict task 3 — lineage must not nest 50 plans deep)."""
        from data_platform_copilot_spark.operators.graph import (
            connected_components)
        n = 52
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long")
        got = {r["id"]: r["cluster"]
               for r in connected_components(pairs, max_iters=60).collect()}
        assert got == {i: 0 for i in range(n + 1)}

    def test_nonconvergence_raises(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.graph import (
            ConvergenceError, connected_components)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id_a long, id_b long")
        with pytest.raises(ConvergenceError):
            connected_components(pairs, max_iters=3)

    @pytest.mark.slow
    def test_star_matches_propagation(self, spark):
        """large-star/small-star contraction == min-label propagation on
        a seeded random graph + a long chain (star needs only O(log n)
        rounds where propagation needs O(diameter))."""
        import random

        from data_platform_copilot_spark.operators.graph import (
            connected_components)
        rng = random.Random(42)
        edges = ([(rng.randrange(120), rng.randrange(120))
                  for _ in range(150)]
                 + [(200 + i, 201 + i) for i in range(40)])
        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges if a != b], "id_a long, id_b long")
        prop = {r["id"]: r["cluster"]
                for r in connected_components(
                    pairs, max_iters=80).collect()}
        star = {r["id"]: r["cluster"]
                for r in connected_components(
                    pairs, max_iters=12, method="star").collect()}
        assert star == prop


class TestDomainMixSample:
    def test_mixture_approximates_target(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.sampling import (
            domain_mix_sample)
        mix = {"BUILDING": 0.4, "MACHINERY": 0.3, "AUTOMOBILE": 0.2,
               "FURNITURE": 0.1}
        cust = load_table(spark, sf_dir, "customer")
        out = (domain_mix_sample(cust, "c_mktsegment", "c_custkey", mix)
               .groupBy("c_mktsegment").count().collect())
        counts = {r["c_mktsegment"]: r["count"] for r in out}
        assert set(counts) == set(mix)  # HOUSEHOLD dropped
        total = sum(counts.values())
        for seg, share in mix.items():
            got = counts[seg] / total
            assert abs(got - share) < 0.05, f"{seg}: {got:.3f} vs {share}"


class TestPiiRedaction:
    def test_progressive_counts_no_double_count(self, spark):
        """A digit-bearing email must count as 1 email / 0 phones: phone
        matching runs on the already-email-redacted string."""
        from data_platform_copilot_spark.operators.quality import redact_pii
        df = spark.createDataFrame(
            [("a", "reach me: 123-456-7890@example.com"),
             ("b", "call +1-555-123456 at 10.1.2.3"),
             ("c", "plain text, no pii")],
            "id string, text string")
        got = {r["id"]: r for r in redact_pii(df, "text").collect()}
        assert (got["a"]["n_emails"], got["a"]["n_phones"],
                got["a"]["n_ips"]) == (1, 0, 0)
        assert "<EMAIL>" in got["a"]["redacted"]
        assert "<PHONE>" not in got["a"]["redacted"]
        assert (got["b"]["n_emails"], got["b"]["n_phones"],
                got["b"]["n_ips"]) == (0, 1, 1)
        assert (got["c"]["n_emails"], got["c"]["n_phones"],
                got["c"]["n_ips"]) == (0, 0, 0)
        assert got["c"]["redacted"] == "plain text, no pii"


class TestQuantizeZeroVector:
    def test_all_zero_vector_yields_null_scale(self, spark):
        from data_platform_copilot_spark.operators.embeddings import (
            quantize_int8)
        df = spark.createDataFrame(
            [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
            "id long, v array<double>")
        got = {r["id"]: r for r in quantize_int8(df, "id", "v").collect()}
        assert got[1]["scale"] is None
        assert got[1]["qvec"] is None
        assert abs(got[2]["scale"] - 127.0 / 2.0) < 1e-12
        assert got[2]["qvec"] == [64, -127, 32]


class TestSelectionOperators:
    def test_dsir_enriches_target_domain(self, spark, sf_dir):
        """DSIR's top-k must be enriched in the target domain relative
        to the corpus base rate (the operator's whole purpose)."""
        from pyspark.sql import functions as F

        from data_platform_copilot_spark.operators.selection import (
            importance_resample_dsir)
        from data_platform_copilot_spark.sources.registry import load_table
        docs = load_table(spark, sf_dir, "documents")
        sel = importance_resample_dsir(
            docs, "doc_id", "text", target=F.col("lang") == "en", k=100)
        picked = sel.join(docs.select("doc_id", "lang"),
                          sel["id"] == F.col("doc_id"))
        en_share = (picked.where(F.col("lang") == "en").count()
                    / picked.count())
        base = (docs.where(F.col("lang") == "en").count() / docs.count())
        assert en_share > base + 0.1, (en_share, base)

    def test_dsir_target_docs_score_higher_on_average(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from data_platform_copilot_spark.operators.selection import (
            importance_resample_dsir)
        from data_platform_copilot_spark.sources.registry import load_table
        docs = load_table(spark, sf_dir, "documents")
        sel = importance_resample_dsir(
            docs, "doc_id", "text", target=F.col("lang") == "en",
            k=None)  # keep everything: compare full weight distributions
        w = (sel.join(docs.select("doc_id", "lang"),
                      sel["id"] == F.col("doc_id"))
             .groupBy(F.col("lang") == "en")
             .agg(F.avg("dsir_logweight").alias("m")).collect())
        means = {r[0]: r["m"] for r in w}
        assert means[True] > means[False]

    def test_unigram_logprob_rare_tokens_score_lower(self, spark):
        """A doc of corpus-frequent tokens must outscore a doc of
        singleton tokens under the corpus unigram LM."""
        from data_platform_copilot_spark.operators.selection import (
            unigram_logprob_scores)
        rows = [(i, "common words repeated here") for i in range(9)]
        rows.append((99, "xylophone quixotic zeugma"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: r["avg_logprob"]
               for r in unigram_logprob_scores(df, "doc_id", "text").collect()}
        assert got[0] > got[99]


class TestSnapshotDiff:
    def test_identity_diff_all_unchanged(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.scd import snapshot_diff
        from data_platform_copilot_spark.sources.registry import load_table
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang")
        d = snapshot_diff(docs, docs, ["doc_id"], ["text", "lang"])
        assert d.where("status <> 'unchanged'").count() == 0

    def test_null_vs_sentinel_string_differ(self, spark):
        """A NULL column and the literal sentinel-ish string must not
        collide into 'unchanged'."""
        from data_platform_copilot_spark.operators.scd import snapshot_diff
        old = spark.createDataFrame([(1, None)], "id long, v string")
        new = spark.createDataFrame([(1, "N")], "id long, v string")
        row = snapshot_diff(old, new, ["id"], ["v"]).collect()[0]
        assert row["status"] == "changed"

    def test_added_removed_counts(self, spark):
        from data_platform_copilot_spark.operators.scd import snapshot_diff
        old = spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "id long, v string")
        new = spark.createDataFrame(
            [(i, "v999" if i == 3 else f"v{i}") for i in range(2, 12)],
            "id long, v string")
        got = {r["status"]: r["n"] for r in
               snapshot_diff(old, new, ["id"], ["v"])
               .groupBy("status").agg(F.count("*").alias("n")).collect()}
        assert got == {"removed": 2, "added": 2, "changed": 1,
                       "unchanged": 7}


class TestPerGroupReservoir:
    def test_exactly_k_per_group_and_stability(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.sampling import (
            per_group_reservoir)
        from data_platform_copilot_spark.sources.registry import load_table
        from pyspark.sql import functions as F
        docs = load_table(spark, sf_dir, "documents").select(
            "source", "doc_id")
        s1 = per_group_reservoir(docs, "source", "doc_id", 3)
        sizes = s1.groupBy("source").count().collect()
        full = {r["source"]: r["count"]
                for r in docs.groupBy("source").count().collect()}
        for r in sizes:
            assert r["count"] == min(3, full[r["source"]])
        s2 = per_group_reservoir(docs, "source", "doc_id", 3)
        assert sorted(map(tuple, s1.collect())) == \
            sorted(map(tuple, s2.collect()))


class TestBm25:
    def test_term_rich_doc_outranks(self, spark):
        from data_platform_copilot_spark.operators.selection import bm25_topk
        rows = [(1, "hash join merge hash join scan"),
                (2, "hash and nothing else of note here"),
                (3, "completely unrelated words only")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = bm25_topk(df, "doc_id", "text",
                        ["hash", "join", "merge", "scan"], k=10).collect()
        ids = [r["id"] for r in got]
        assert ids[0] == 1            # most query-term mass wins
        assert 3 not in ids           # no-hit docs never appear

    def test_null_and_empty_docs_excluded_from_corpus_stats(self, spark):
        """NULL text (size() = -1) and token-less docs must not count
        into n_docs/avgdl: scores over the clean subset are identical
        with and without the dirty rows present."""
        from data_platform_copilot_spark.operators.selection import bm25_topk
        clean = [(1, "hash join merge hash join scan"),
                 (2, "hash and nothing else of note here")]
        dirty = clean + [(3, None), (4, ""), (5, "   ")]
        q = ["hash", "join"]
        a = {r["id"]: r["bm25"] for r in bm25_topk(
            spark.createDataFrame(clean, "doc_id long, text string"),
            "doc_id", "text", q).collect()}
        b = {r["id"]: r["bm25"] for r in bm25_topk(
            spark.createDataFrame(dirty, "doc_id long, text string"),
            "doc_id", "text", q).collect()}
        assert a == b and set(a) == {1, 2}


class TestSubstringDecontamination:
    def _run(self, spark, corpus, eval_rows, **kw):
        from data_platform_copilot_spark.operators.quality import (
            decontaminate_substring,
        )
        c = spark.createDataFrame(corpus, "doc_id long, text string")
        e = spark.createDataFrame(eval_rows, "doc_id long, text string")
        return {r["id"]: (r["max_substring_tokens"], r["contaminated"])
                for r in decontaminate_substring(
                    c, "doc_id", "text", e, "doc_id", "text",
                    min_len=6, k=3, **kw).collect()}

    def test_arbitrary_offsets_and_exact_run_length(self, spark):
        """A 7-token verbatim run at different offsets on both sides
        must flag with the exact run length; a 5-token run (below
        min_len=6) must not."""
        run7 = "one two three four five six seven"
        eval_rows = [(100, f"eval preamble {run7} eval tail words")]
        corpus = [
            (1, f"junk prefix tokens {run7} and unrelated suffix"),
            (2, "one two three four five nothing else matches here"),
            (3, "completely disjoint text with no shared runs at all"),
        ]
        got = self._run(spark, corpus, eval_rows)
        assert got[1] == (7, True)
        assert got[2][1] is False and got[3][1] is False

    def test_subsumes_aligned_ngram_rule(self, spark):
        """A full-doc copy (the fixed-alignment case) reports the
        whole shared length."""
        text = "alpha beta gamma delta epsilon zeta eta theta"
        got = self._run(spark, [(1, text)], [(200, text)])
        assert got[1] == (8, True)

    def test_corpus_pairs_find_shared_run_at_offsets(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            duplicate_substring_pairs,
        )
        run = "a b c d e f g h"                      # 8 shared tokens
        df = spark.createDataFrame(
            [(1, f"x y z {run} p q"),
             (2, f"m n {run} r s t u"),
             (3, "nothing in common with the others at all")],
            "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["max_substring_tokens"]
               for r in duplicate_substring_pairs(
                   df, "doc_id", "text", min_len=6, k=3).collect()}
        assert got == {(1, 2): 8}


class TestWinnowing:
    def test_guarantee_and_density(self, spark):
        """Any shared run of >= w + k - 1 tokens must share a selected
        fingerprint (the winnowing guarantee), and selection density
        must be well below 1 (the point of winnowing)."""
        from data_platform_copilot_spark.operators.dedup import (
            winnow_fingerprints,
        )
        run = "the quick brown fox jumps over the lazy dog again"  # 10 toks
        df = spark.createDataFrame(
            [(1, f"aa bb cc {run} dd"),
             (2, f"xx {run} yy zz ww vv"),
             (3, "entirely different content with no overlap here at all")],
            "doc_id long, text string")
        out = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
        by = {i: {r["h"] for r in out.where(F.col("id") == i).collect()}
              for i in (1, 2, 3)}
        assert by[1] & by[2], "shared >= t-token run must share a fingerprint"
        assert not (by[1] & by[3])
        # density: selected <= ~2/(w+1) + slack of the gram count
        n_grams = 14 - 3 + 1
        assert len(by[1]) <= n_grams * 0.75

    def test_selection_is_offset_invariant(self, spark):
        """A pure prefix shift must shift positions but keep the same
        selected hash set for the shared suffix."""
        from data_platform_copilot_spark.operators.dedup import (
            winnow_fingerprints,
        )
        body = "a b c d e f g h i j k l"
        df = spark.createDataFrame(
            [(1, body), (2, f"x y z {body}")],
            "doc_id long, text string")
        out = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
        h1 = {r["h"] for r in out.where(F.col("id") == 1).collect()}
        h2 = {r["h"] for r in out.where(F.col("id") == 2).collect()}
        assert h1 <= h2


class TestBigramLm:
    def test_word_salad_scores_below_fluent_repeat(self, spark):
        """Docs built from the same unigram pool: the one whose
        bigrams follow corpus-frequent transitions must outscore the
        shuffled word salad (the signal a unigram LM cannot see)."""
        from data_platform_copilot_spark.operators.selection import (
            bigram_logprob_scores,
        )
        fluent = "the cat sat on the mat"
        salad = "mat the on sat cat the"
        corpus = [(i, fluent) for i in range(10)] + [(100, salad)]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {r["id"]: r["avg_logprob"]
               for r in bigram_logprob_scores(
                   df, "doc_id", "text").collect()}
        assert got[1] > got[100]

    def test_short_docs_absent(self, spark):
        from data_platform_copilot_spark.operators.selection import (
            bigram_logprob_scores,
        )
        df = spark.createDataFrame(
            [(1, "hello world again"), (2, "single"), (3, "")],
            "doc_id long, text string")
        ids = {r["id"] for r in bigram_logprob_scores(
            df, "doc_id", "text").collect()}
        assert ids == {1}


class TestQuantileBandFilter:
    def test_band_keeps_middle_and_appends_bounds(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            quantile_band_filter,
        )
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 101)], "id long, s double")
        kept = quantile_band_filter(df, F.col("s"), 0.25, 0.75,
                                    exact=True).collect()
        ids = sorted(r["id"] for r in kept)
        # exact interpolated quartiles of 1..100 are 25.75 and 75.25
        assert ids == list(range(26, 76))
        assert {round(r["q_lo"], 2) for r in kept} == {25.75}
        assert {round(r["q_hi"], 2) for r in kept} == {75.25}

    def test_approx_mode_close_to_exact(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            quantile_band_filter,
        )
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 1001)], "id long, s double")
        approx = quantile_band_filter(df, F.col("s"), 0.25, 0.75)
        n = approx.count()
        assert abs(n - 500) <= 10


class TestVocabCoverage:
    def test_exact_curve_and_saturation(self, spark):
        from data_platform_copilot_spark.operators.selection import (
            vocab_coverage,
        )
        df = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b c d")], "doc_id long, text string")
        # counts: a=4 b=3 c=2 d=1, N=10
        got = {r["v"]: (r["n_types"], r["covered_instances"],
                        round(r["coverage"], 4))
               for r in vocab_coverage(df, "doc_id", "text",
                                       (1, 2, 3, 10)).collect()}
        assert got[1] == (1, 4, 0.4)
        assert got[2] == (2, 7, 0.7)
        assert got[3] == (3, 9, 0.9)
        assert got[10] == (4, 10, 1.0)    # saturates at |vocab|


class TestSubstringChainingVsBruteForce:
    def test_random_corpus_matches_dp_reference(self, spark):
        """k-gram diagonal chaining must agree with a brute-force DP
        longest-common-token-run on a seeded random corpus (30 docs,
        tiny alphabet so shared runs and repeated grams are common —
        the regime where diagonal/island bookkeeping can go wrong)."""
        import random
        from data_platform_copilot_spark.operators.quality import (
            duplicate_substring_pairs,
        )
        rng = random.Random(42)
        alphabet = [f"w{i}" for i in range(8)]
        docs = [(i, " ".join(rng.choice(alphabet) for _ in range(40)))
                for i in range(30)]

        def longest_run(a, b):
            a, b = a.split(), b.split()
            best = 0
            dp = [0] * (len(b) + 1)
            for i in range(1, len(a) + 1):
                prev = 0
                for j in range(1, len(b) + 1):
                    cur = dp[j]
                    dp[j] = prev + 1 if a[i - 1] == b[j - 1] else 0
                    best = max(best, dp[j])
                    prev = cur
            return best

        min_len, k = 6, 3
        expect = {}
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                r = longest_run(docs[i][1], docs[j][1])
                if r >= min_len:
                    expect[(docs[i][0], docs[j][0])] = r
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): r["max_substring_tokens"]
               for r in duplicate_substring_pairs(
                   df, "doc_id", "text", min_len=min_len, k=k,
                   max_gram_freq=None).collect()}
        assert got == expect


class TestIncrementalMinhash:
    def test_batch_near_dup_of_store_flags_with_best_match(self, spark):
        from data_platform_copilot_spark.operators.dedup import (
            incremental_minhash_dedup,
            minhash_signatures,
            shingles,
        )
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill nearby today")
        store_docs = spark.createDataFrame(
            [(2, base), (4, "entirely different accepted content about "
                            "spark shuffles joins and partitions only")],
            "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, base + " extra"),                       # near-dup of 2
             (3, "fresh unrelated new document with brand new words "
                 "that match nothing in the accepted store at all")],
            "doc_id long, text string")
        store = minhash_signatures(
            shingles(store_docs, "doc_id", "text", n=3),
            carry_shingles=True)
        got = {r["id"]: (r["best_match_id"], r["is_duplicate"])
               for r in incremental_minhash_dedup(
                   batch, "doc_id", "text", store).collect()}
        assert got[1] == (2, True)
        assert got[3] == (None, False)


class TestWinnowingVsBruteForce:
    def test_random_docs_match_reference_selection(self, spark):
        """The arithmetic rightmost-min encoding must reproduce a
        direct per-window winnowing reference on random docs."""
        import hashlib
        import random
        from data_platform_copilot_spark.operators.dedup import (
            winnow_fingerprints,
        )
        rng = random.Random(7)
        alphabet = [f"t{i}" for i in range(6)]
        docs = [(i, " ".join(rng.choice(alphabet) for _ in range(25)))
                for i in range(12)]
        k, w = 3, 4

        def ref(text):
            toks = text.split()
            grams = [" ".join(toks[i:i + k])
                     for i in range(len(toks) - k + 1)]
            hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
                  for g in grams]
            sel = set()
            for j in range(len(hs) - w + 1):
                window = hs[j:j + w]
                m = min(window)
                # rightmost minimum
                pos = j + max(i for i, h in enumerate(window) if h == m)
                sel.add((pos, hs[pos]))
            return sel

        expect = {(d, p, h) for d, t in docs for p, h in ref(t)}
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["id"], r["pos"], r["h"])
               for r in winnow_fingerprints(df, "doc_id", "text",
                                            k=k, w=w).collect()}
        assert got == expect

    def test_signature_verify_mode_needs_no_shingles(self, spark):
        """verify='signature' must work from a signatures-only store
        and still accept near-dups / reject unrelated docs."""
        from data_platform_copilot_spark.operators.dedup import (
            incremental_minhash_dedup,
            minhash_signatures,
            shingles,
        )
        base = ("the quick brown fox jumps over the lazy dog while the "
                "cat watches from the warm windowsill nearby today")
        store_docs = spark.createDataFrame(
            [(2, base)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(1, base), (3, "no shared phrasing whatsoever in this "
                            "completely different new document text")],
            "doc_id long, text string")
        store = (minhash_signatures(
            shingles(store_docs, "doc_id", "text", n=3))
            .drop("size"))  # signatures only — no shingle arrays
        got = {r["id"]: r["is_duplicate"]
               for r in incremental_minhash_dedup(
                   batch, "doc_id", "text", store,
                   verify="signature", threshold=0.7).collect()}
        assert got == {1: True, 3: False}


class TestFunnel:
    def test_order_matters(self, spark):
        """A user whose purchase precedes their click must not count
        as converted through the purchase step."""
        from data_platform_copilot_spark.queries.timeseries import (
            funnel_conversion,
        )
        import datetime as dt
        t = lambda m: dt.datetime(2024, 1, 1, 0, m)
        rows = [
            # user 1 converts fully, in order
            (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
            # user 2: purchase BEFORE click -> stops at click
            (2, "view", t(0)), (2, "purchase", t(1)), (2, "click", t(2)),
            # user 3: never clicks
            (3, "view", t(0)),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp")
        got = {r["step"]: (r["n_users"], r["conversion_rate"])
               for r in funnel_conversion(
                   df, "user_id", "event_type", "ts",
                   ["view", "click", "purchase"]).collect()}
        assert got["view"] == (3, 1.0)
        assert got["click"][0] == 2
        assert got["purchase"][0] == 1

    def test_random_events_match_reference(self, spark):
        """Funnel counts must equal a brute-force per-user replay on
        seeded random event streams."""
        import datetime as dt
        import random
        from data_platform_copilot_spark.queries.timeseries import (
            funnel_conversion,
        )
        rng = random.Random(11)
        steps = ["a", "b", "c"]
        rows = []
        for u in range(40):
            for _ in range(rng.randint(0, 8)):
                rows.append((u, rng.choice(steps + ["x"]),
                             dt.datetime(2024, 1, 1)
                             + dt.timedelta(minutes=rng.randint(0, 500))))

        def ref_counts():
            by_user = {}
            for u, s, ts in rows:
                by_user.setdefault(u, []).append((s, ts))
            n = [0, 0, 0]
            for evs in by_user.values():
                t_prev = None
                for i, step in enumerate(steps):
                    cand = [ts for s, ts in evs if s == step
                            and (t_prev is None or ts > t_prev)]
                    if not cand:
                        break
                    t_prev = min(cand)
                    n[i] += 1
            return n

        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp")
        got = {r["step_idx"]: r["n_users"]
               for r in funnel_conversion(df, "user_id", "event_type",
                                          "ts", steps).collect()}
        expect = ref_counts()
        assert [got[1], got[2], got[3]] == expect


class TestDatasetSplit:
    def test_disjoint_exhaustive_stable_under_growth(self, spark):
        from data_platform_copilot_spark.operators.sampling import (
            dataset_split,
        )
        fr = {"train": 0.8, "val": 0.1, "test": 0.1}
        small = spark.range(500).withColumnRenamed("id", "k")
        big = spark.range(2000).withColumnRenamed("id", "k")
        a = {r["k"]: r["split"]
             for r in dataset_split(small, "k", fr).collect()}
        b = {r["k"]: r["split"]
             for r in dataset_split(big, "k", fr).collect()}
        assert len(a) == 500 and set(a.values()) <= set(fr)
        # growth stability: every original key keeps its split
        assert all(b[k] == v for k, v in a.items())
        # rough proportions on the larger set
        from collections import Counter
        c = Counter(b.values())
        assert abs(c["train"] / 2000 - 0.8) < 0.05

    def test_fractions_must_sum_to_one(self, spark):
        import pytest as _pt
        from data_platform_copilot_spark.operators.sampling import (
            dataset_split,
        )
        with _pt.raises(ValueError):
            dataset_split(spark.range(1), "id", {"a": 0.5, "b": 0.4})


class TestMeanPool:
    def test_matches_numpy(self, spark):
        import numpy as np
        from data_platform_copilot_spark.operators.embeddings import (
            mean_pool,
        )
        rng = np.random.default_rng(3)
        rows = [(i // 3, rng.standard_normal(8).tolist())
                for i in range(12)]
        df = spark.createDataFrame(rows, "g long, v array<double>")
        got = {r["group"]: r["mean_vec"]
               for r in mean_pool(df, "g", "v").collect()}
        for g in range(4):
            vecs = np.array([v for gg, v in rows if gg == g])
            m = vecs.mean(axis=0)
            m = m / np.linalg.norm(m)
            assert np.allclose(got[g], m, atol=1e-12)


class TestPagerank:
    def test_star_graph_center_dominates_and_mass_conserved(self, spark):
        from data_platform_copilot_spark.operators.graph import pagerank
        df = spark.createDataFrame([(0, 1), (0, 2), (0, 3)],
                                   "id_a long, id_b long")
        r = {x["id"]: x["rank"] for x in pagerank(df, iters=5).collect()}
        assert r[0] > r[1] and abs(r[1] - r[2]) < 1e-12
        assert abs(sum(r.values()) - 1.0) < 1e-9  # symmetrized: no leak

    def test_hand_computed_two_node_fixpoint(self, spark):
        """Two nodes, one edge: symmetric — every iteration keeps
        rank = 0.5 exactly."""
        from data_platform_copilot_spark.operators.graph import pagerank
        df = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
        r = {x["id"]: x["rank"] for x in pagerank(df, iters=4).collect()}
        assert r == {7: 0.5, 9: 0.5}


class TestWeightedSample:
    def test_weight_proportional_inclusion(self, spark):
        """Rows with 10x weight must be sampled ~10x as often across
        the deterministic key family (here: many disjoint corpora)."""
        from pyspark.sql import functions as F
        from data_platform_copilot_spark.operators.sampling import (
            weighted_sample_topk,
        )
        # 200 heavy (w=10) + 1800 light (w=1); expect heavy share of a
        # k=200 sample ~ 200*10/(200*10+1800*1) = 0.526
        rows = [(i, 10.0 if i < 200 else 1.0) for i in range(2000)]
        df = spark.createDataFrame(rows, "k long, w double")
        got = weighted_sample_topk(df, "k", F.col("w"), k=200).collect()
        heavy = sum(1 for r in got if r["k"] < 200)
        assert 0.40 < heavy / 200 < 0.65

    def test_deterministic_and_growth_stable(self, spark):
        from pyspark.sql import functions as F
        from data_platform_copilot_spark.operators.sampling import (
            weighted_sample_topk,
        )
        df = spark.createDataFrame(
            [(i, float(1 + i % 5)) for i in range(300)], "k long, w double")
        a = [r["k"] for r in weighted_sample_topk(
            df, "k", F.col("w"), k=50).collect()]
        b = [r["k"] for r in weighted_sample_topk(
            df, "k", F.col("w"), k=50).collect()]
        assert a == b


class TestKnnJoin:
    def test_no_duplicate_pairs_and_recall(self, spark, sf_dir):
        # first-colliding-table rule must emit each pair at most once
        # BEFORE ranking; probe by running with a k larger than any
        # candidate set and checking pair uniqueness.
        from data_platform_copilot_spark.operators.similarity import knn_join
        from data_platform_copilot_spark.sources import load_table
        emb = load_table(spark, sf_dir, "embeddings").limit(200)
        out = knn_join(emb, "vec_id", "embedding", k=10_000,
                       n_planes=4, tables=3, dim=64).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in out]
        assert len(pairs) == len(set(pairs))
        # ranks are dense per query
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert all(sorted(v) == list(range(1, len(v) + 1))
                   for v in by_q.values())

    def test_graph_recall_vs_bruteforce(self, spark, sf_dir):
        # with generous tables/few planes, top-1 neighbor recall
        # should be high (planted structure not required — just that
        # LSH candidates usually contain the true best neighbor)
        from data_platform_copilot_spark.operators.similarity import (
            brute_force_topk,
            knn_join,
        )
        from data_platform_copilot_spark.sources import load_table
        emb = load_table(spark, sf_dir, "embeddings").limit(150)
        approx = {r["query_id"]: r["neighbor_id"]
                  for r in knn_join(emb, "vec_id", "embedding", k=1,
                                    n_planes=4, tables=6, dim=64).collect()}
        exact = {r["query_id"]: r["neighbor_id"]
                 for r in brute_force_topk(emb, emb, "vec_id", "embedding",
                                           k=1).collect()}
        hits = sum(1 for q, n in exact.items() if approx.get(q) == n)
        assert hits / len(exact) > 0.5


class TestZorder:
    def test_interleave_matches_python(self, spark):
        from pyspark.sql import functions as F
        from data_platform_copilot_spark.operators.layout import interleave

        def morton(x, y, bits=8):
            z = 0
            for b in range(bits):
                z |= ((x >> b) & 1) << (2 * b)
                z |= ((y >> b) & 1) << (2 * b + 1)
            return z

        rows = [(x, y) for x in (0, 1, 5, 127, 255) for y in (0, 3, 200, 255)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = df.select("x", "y",
                        interleave(F.col("x"), F.col("y")).alias("z")).collect()
        for r in got:
            assert r["z"] == morton(r["x"], r["y"])

    def test_both_dims_narrow(self, spark, sf_dir):
        # the point of the curve: per-file ranges on BOTH columns are
        # far narrower than the global range for the bulk of files
        from data_platform_copilot_spark.operators.layout import zorder_stats
        from data_platform_copilot_spark.sources import load_table
        li = load_table(spark, sf_dir, "lineitem")
        rep = zorder_stats(li, "l_partkey", "l_suppkey",
                           bits=8, files=64).collect()
        gx = max(r["max_x"] for r in rep) - min(r["min_x"] for r in rep)
        gy = max(r["max_y"] for r in rep) - min(r["min_y"] for r in rep)
        nx = sorted((r["max_x"] - r["min_x"]) / gx for r in rep)
        ny = sorted((r["max_y"] - r["min_y"]) / gy for r in rep)
        # median per-file width <= 40% of the global range on each dim
        assert nx[len(nx) // 2] <= 0.4
        assert ny[len(ny) // 2] <= 0.4


class TestTrendAndEwma:
    def test_slope_matches_numpy(self, spark):
        import numpy as np
        rows = []
        for i in range(200):
            # slope 2.0/day + deterministic wiggle
            rows.append(("a", float(19700 + i / 24.0),
                         2.0 * (i / 24.0) + ((i * 7) % 5) * 0.1))
        df = spark.createDataFrame(
            [(t, __import__("datetime").datetime.utcfromtimestamp(
                int(d * 86400)), v) for t, d, v in rows],
            "event_type string, ts timestamp, value double")
        from pyspark.sql import functions as F
        from data_platform_copilot_spark.queries.core import epoch_s
        xd = (epoch_s("ts") / F.lit(86400.0)) - F.lit(19700.0)
        s = (df.select(xd.alias("x"), F.col("value").alias("y"))
             .agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
                  F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"))).collect()[0]
        slope = (s["sxy"] - s["sx"] * s["sy"] / s["n"]) / \
            (s["sxx"] - s["sx"] * s["sx"] / s["n"])
        xs = np.array([d - 19700 for _, d, _ in rows])
        # epoch_s truncates to whole seconds; replicate for parity
        xs = np.floor(xs * 86400) / 86400 - 0.0
        ys = np.array([v for _, _, v in rows])
        want = np.polyfit(xs, ys, 1)[0]
        assert abs(slope - want) < 1e-6

    def test_ewma_matches_reference_loop(self, spark):
        import datetime
        rows = [(1, i, datetime.datetime(2024, 1, 1, 0, i), float(i % 7))
                for i in range(30)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F
        from data_platform_copilot_spark.queries.core import rnd
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(-19, 0))
        arr = df.select("event_id",
                        F.collect_list("value").over(w).alias("win"))
        nn = F.size("win").cast("double")
        num = F.aggregate(
            F.zip_with(F.col("win"), F.sequence(F.lit(1), F.size("win")),
                       lambda x, j: x * F.pow(F.lit(0.7),
                                              nn - j.cast("double"))),
            F.lit(0.0), lambda a, x: a + x)
        den = F.aggregate(
            F.transform(F.sequence(F.lit(1), F.size("win")),
                        lambda j: F.pow(F.lit(0.7), nn - j.cast("double"))),
            F.lit(0.0), lambda a, x: a + x)
        got = {r["event_id"]: r["e"] for r in
               arr.select("event_id", rnd(num / den, 6).alias("e")).collect()}
        vals = [float(i % 7) for i in range(30)]
        for t in range(30):
            window = vals[max(0, t - 19):t + 1]
            ws = [0.7 ** (len(window) - 1 - j) for j in range(len(window))]
            want = sum(v * wt for v, wt in zip(window, ws)) / sum(ws)
            assert abs(got[t] - want) < 1e-6


class TestPCA:
    def test_gram_matches_numpy(self, spark, sf_dir):
        import numpy as np
        from data_platform_copilot_spark.operators.embeddings import (
            gram_matrix,
        )
        from data_platform_copilot_spark.sources import load_table
        emb = load_table(spark, sf_dir, "embeddings")
        g, s, n = gram_matrix(emb, "embedding", 64)
        mat = np.stack([np.array(r["embedding"], dtype=np.float64)
                        for r in emb.collect()])
        assert n == len(mat)
        assert np.allclose(g, mat.T @ mat, rtol=1e-9)
        assert np.allclose(s, mat.sum(axis=0), rtol=1e-9)

    def test_projected_variance_equals_eigenvalues(self, spark, sf_dir):
        import numpy as np
        from data_platform_copilot_spark.operators.embeddings import (
            pca_components,
            pca_project,
        )
        from data_platform_copilot_spark.sources import load_table
        emb = load_table(spark, sf_dir, "embeddings")
        comps, vals = pca_components(emb, "embedding", 64, k=3)
        assert vals[0] >= vals[1] >= vals[2] > 0
        # components are orthonormal
        cm = np.array(comps)
        assert np.allclose(cm @ cm.T, np.eye(3), atol=1e-9)
        # variance of the projected scores == the eigenvalues
        proj = np.stack([np.array(r["proj"]) for r in
                         pca_project(emb, "vec_id", "embedding",
                                     comps).collect()])
        got = proj.var(axis=0)
        assert np.allclose(got, vals, rtol=1e-6)


class TestHeavyHittersAndDrift:
    def test_heavy_hitters_exact_vs_bruteforce(self, spark):
        # skewed synthetic corpus: token "hot<i>" dominates; MG phase
        # must surface every true heavy hitter and the recount must
        # kill all false candidates, independent of partitioning.
        from collections import Counter

        from data_platform_copilot_spark.operators.selection import (
            heavy_hitters,
        )
        docs = []
        for i in range(400):
            body = ["hot0"] * 3 + [f"hot{i % 3}"] * 2 + [f"tail{i}"]
            docs.append((i, " ".join(body)))
        df = spark.createDataFrame(docs, "doc_id long, text string").repartition(7)
        got = {r["tok"]: r["n"]
               for r in heavy_hitters(df, "text", phi=0.01).collect()}
        toks = [t for _, s in docs for t in s.split()]
        cnt = Counter(toks)
        import math
        thr = math.ceil(len(toks) * 0.01)
        want = {t: n for t, n in cnt.items() if n >= thr}
        assert got == want

    def test_heavy_hitters_partition_invariant(self, spark):
        from data_platform_copilot_spark.operators.selection import (
            heavy_hitters,
        )
        docs = [(i, " ".join(f"w{j % 50}" for j in range(i % 20 + 1)))
                for i in range(200)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        a = sorted((r["tok"], r["n"]) for r in
                   heavy_hitters(df.repartition(2), "text", 0.02).collect())
        b = sorted((r["tok"], r["n"]) for r in
                   heavy_hitters(df.repartition(13), "text", 0.02).collect())
        assert a == b and a

    def test_ks_matches_scipy_formula(self, spark):
        # reference: brute-force two-sample KS over the merged support
        import datetime
        rows = []
        for i in range(300):
            ref = i % 2 == 0
            v = float((i * 13) % 97) / 10 + (0.0 if ref else 1.5)
            ts = datetime.datetime(2024, 1, 10 if ref else 20)
            rows.append((ts, v))
        df = spark.createDataFrame(rows, "ts timestamp, value double")
        df.createOrReplaceTempView("_ks_ev")
        ref = sorted(v for t, v in rows if t.day < 16)
        cur = sorted(v for t, v in rows if t.day >= 16)

        def cdf(xs, v):
            import bisect
            return bisect.bisect_right(xs, v) / len(xs)

        support = sorted(set(ref + cur))
        want = max(abs(cdf(ref, v) - cdf(cur, v)) for v in support)
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F
        lab = df.select("value", (F.col("ts") < F.lit("2024-01-16")
                                  .cast("timestamp")).cast("int").alias("is_ref"))
        tot = lab.agg(F.sum("is_ref").alias("nr"),
                      F.sum(1 - F.col("is_ref")).alias("nc"))
        per_v = lab.groupBy("value").agg(F.sum("is_ref").alias("r"),
                                         F.sum(1 - F.col("is_ref")).alias("c"))
        w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
        got = (per_v.crossJoin(F.broadcast(tot))
               .select((F.sum("r").over(w) / F.col("nr")
                        - F.sum("c").over(w) / F.col("nc")).alias("g"))
               .agg(F.max(F.abs("g"))).collect()[0][0])
        assert abs(got - want) < 1e-9

    def test_psi_zero_for_identical_windows(self, spark, sf_dir):
        # PSI of a distribution against itself must be ~0 in every bin
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["drift_psi_value"](spark, sf_dir).collect()
        assert 8 <= len(rows) <= 10
        # sanity: terms are finite and the total is small for the
        # near-stationary synthetic stream
        total = sum(r["psi_term"] for r in rows)
        assert all(abs(r["psi_term"]) < 1.0 for r in rows)
        assert -0.5 < total < 0.5


class TestBPE:
    def test_matches_python_reference_synthetic(self, spark):
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        texts = ["low lower lowest low low",
                 "new newer newest new newer",
                 "wide wider widest low new"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
               for r in bpe_train(df, "text", n_merges=6)
               .orderBy("merge_rank").collect()]
        want = bpe_reference(texts, n_merges=6)
        assert got == want

    @pytest.mark.slow
    def test_matches_python_reference_real_corpus(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        from data_platform_copilot_spark.sources import load_table
        docs = load_table(spark, sf_dir, "documents").limit(100)
        texts = [r["text"] for r in docs.select("text").collect()]
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
               for r in bpe_train(docs, "text", n_merges=5)
               .orderBy("merge_rank").collect()]
        assert got == bpe_reference(texts, n_merges=5)

    def test_overlapping_run_semantics(self, spark):
        # "aaaa" with pair (a,a): greedy left-to-right merges
        # positions 1-2 and 3-4 -> freq counts 3 adjacencies but only
        # 2 merge sites; the reference loop defines the contract
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        texts = ["aaaa aaaa aa"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
               for r in bpe_train(df, "text", n_merges=3)
               .orderBy("merge_rank").collect()]
        assert got == bpe_reference(texts, n_merges=3)

    def test_batch1_is_sequential_semantics(self, spark):
        # the generic batched path at batch=1 must degenerate to
        # EXACTLY the sequential Sennrich loop (the r6 semantics)
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        texts = ["low lower lowest low low",
                 "new newer newest new newer",
                 "wide wider widest low new"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
               for r in bpe_train(df, "text", n_merges=6, batch=1)
               .orderBy("merge_rank").collect()]
        assert got == bpe_reference(texts, n_merges=6)

    @staticmethod
    def _assert_batched_is_sequential(spark, sf_dir, n_docs):
        # r15 (r14 verdict #6): batching is EXACT — at every batch the
        # merge table must be byte-identical to batch=1 (sequential
        # Sennrich), not merely to a batched reference replay. The
        # acceptance proof: consecutive ranked prefix, stop at the
        # first symbol collision, truncate when a novel pair's parent
        # bound could outrank a later accepted pair.
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        from data_platform_copilot_spark.sources import load_table
        docs = load_table(spark, sf_dir, "documents").limit(n_docs)
        texts = [r["text"] for r in docs.select("text").collect()]
        seq = bpe_reference(texts, n_merges=12, batch=1)
        for b in (3, 8):
            got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
                   for r in bpe_train(docs, "text", n_merges=12, batch=b)
                   .orderBy("merge_rank").collect()]
            assert got == seq
            assert got == bpe_reference(texts, n_merges=12, batch=b)
            # within-round acceptance was symbol-disjoint, so all
            # merged outputs are distinct subword units
            assert len({lhs + rhs for _, lhs, rhs, _ in got}) == len(got)

    def test_batched_is_byte_identical_to_sequential_small(
            self, spark, sf_dir):
        # the exactness pin in the default lane
        self._assert_batched_is_sequential(spark, sf_dir, 30)

    @pytest.mark.slow
    def test_batched_is_byte_identical_to_sequential(self, spark, sf_dir):
        self._assert_batched_is_sequential(spark, sf_dir, 100)

    def test_batched_rounds_are_fewer(self, spark):
        # the point of batching: a vocab-sized run takes fewer driver
        # rounds than merges — and with EXACT batching the table is
        # still byte-identical to sequential
        from data_platform_copilot_spark.operators import bpe
        from data_platform_copilot_spark.operators.bpe import (
            bpe_reference,
            bpe_train,
        )
        texts = ["the quick brown fox jumps over the lazy dog",
                 "pack my box with five dozen liquor jugs",
                 "sphinx of black quartz judge my vow"] * 4
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["freq"])
               for r in bpe_train(df, "text", n_merges=16, batch=8)
               .orderBy("merge_rank").collect()]
        assert got == bpe_reference(texts, n_merges=16, batch=1)
        assert len(got) == 16
        assert bpe.last_round_count < 16


class TestBudgetAllocation:
    def test_sums_exactly_to_budget(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["token_budget_allocation"](spark, sf_dir).collect()
        assert sum(r["allocated_tokens"] for r in rows) == 100000
        assert all(r["allocated_tokens"] >= 0 for r in rows)


class TestKnnAutoPlanes:
    def test_auto_planes_tracks_corpus_size(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.similarity import knn_join
        from data_platform_copilot_spark.sources import load_table
        emb = load_table(spark, sf_dir, "embeddings")
        out = knn_join(emb, "vec_id", "embedding", k=1,
                       n_planes=None, tables=2, dim=64)
        # 500 vectors / 32 target -> 4 planes -> 16 buckets; just
        # assert it runs and returns a sane graph
        rows = out.collect()
        assert rows and all(r["rank"] == 1 for r in rows)


class TestStatEntries:
    def test_bootstrap_ci_brackets_true_mean(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        from data_platform_copilot_spark.sources import load_table
        row = QUERIES["bootstrap_ci_mean_value"](spark, sf_dir).collect()[0]
        true_mean = load_table(spark, sf_dir, "events").agg(
            {"value": "avg"}).collect()[0][0]
        assert row["ci_lo"] < true_mean < row["ci_hi"]
        assert row["ci_lo"] < row["boot_mean"] < row["ci_hi"]
        assert row["n_replicates"] == 50

    def test_welch_matches_scipy_formula(self, spark):
        # reference: textbook Welch formulas on a constructed frame
        import datetime
        import statistics
        rows = []
        a = [10.0 + (i % 7) for i in range(40)]
        b = [12.0 + (i % 13) * 0.5 for i in range(60)]
        for i, v in enumerate(a):
            rows.append((i, datetime.datetime(2024, 1, 2), "click", v))
        for i, v in enumerate(b):
            rows.append((1000 + i, datetime.datetime(2024, 1, 2),
                         "view", v))
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string,"
                  " value double")
        from pyspark.sql import functions as F
        g = df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.avg("value").alias("m"),
            F.var_samp("value").alias("v")).collect()
        st = {r["event_type"]: r for r in g}
        se2 = st["click"]["v"] / 40 + st["view"]["v"] / 60
        t = (st["click"]["m"] - st["view"]["m"]) / se2 ** 0.5
        want_t = ((statistics.mean(a) - statistics.mean(b))
                  / (statistics.variance(a) / 40
                     + statistics.variance(b) / 60) ** 0.5)
        assert abs(t - want_t) < 1e-9


class TestLateR6EdgeCases:
    def test_heavy_hitters_empty_and_tiny(self, spark):
        from data_platform_copilot_spark.operators.selection import (
            heavy_hitters,
        )
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert heavy_hitters(empty, "text", 0.01).collect() == []
        one = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
        got = {r["tok"]: r["n"] for r in
               heavy_hitters(one, "text", 0.5).collect()}
        assert got == {"a": 2}  # b is 1/3 < 0.5 threshold

    def test_bpe_empty_corpus(self, spark):
        from data_platform_copilot_spark.operators.bpe import bpe_train
        empty = spark.createDataFrame([], "text string")
        assert bpe_train(empty, "text", n_merges=3).collect() == []

    def test_knn_singleton_corpus(self, spark):
        from data_platform_copilot_spark.operators.similarity import knn_join
        one = spark.createDataFrame(
            [(1, [1.0] * 8)], "vec_id long, embedding array<double>")
        assert knn_join(one, "vec_id", "embedding", k=3,
                        n_planes=4, tables=2, dim=8).collect() == []

    def test_zorder_constant_column(self, spark):
        # a constant dimension must not divide by zero or emit
        # out-of-range buckets
        from data_platform_copilot_spark.operators.layout import zorder_stats
        df = spark.createDataFrame([(5, i) for i in range(100)],
                                   "x long, y long")
        rep = zorder_stats(df, "x", "y", bits=4, files=4).collect()
        assert sum(r["n_rows"] for r in rep) == 100
        assert all(r["min_x"] == 5 and r["max_x"] == 5 for r in rep)

    def test_bucketize_minmax_null_stays_null(self, spark):
        """ADVICE r11: greatest/least skip NULLs, so the clamp alone
        would send a NULL key to bucket 0; the guard must keep it
        NULL so interleave_many's NULL-key contract engages and null
        rows cluster in their own partition, not with minimum-value
        rows."""
        from data_platform_copilot_spark.operators.layout import (
            bucketize_minmax, interleave_many)
        df = spark.createDataFrame(
            [(0,), (50,), (100,), (None,)], "v long")
        got = df.select(
            bucketize_minmax(F.col("v"), F.lit(0), F.lit(100),
                             bits=4).alias("b")).collect()
        vals = [r["b"] for r in got]
        assert vals.count(None) == 1           # NULL stays NULL
        assert set(v for v in vals if v is not None) <= set(range(16))
        z = df.select(interleave_many(
            [bucketize_minmax(F.col("v"), F.lit(0), F.lit(100), 4),
             F.lit(3)], bits=4).alias("z")).collect()
        assert [r["z"] for r in z].count(None) == 1  # contract engages

    def test_add_range_bucket_null_keys_and_extreme_span(self, spark):
        """ADVICE r12: NULL keys must land in bucket 0 (the replaced
        global-window formulation kept them, sorted first — a NULL
        ``__rb`` would vanish at the callers' inner join), and the
        div-first arithmetic must survive a key span where the old
        ``(key - lo) * n_buckets`` form overflowed ANSI longs."""
        from data_platform_copilot_spark.operators.layout import (
            add_range_bucket, bucket_offsets)
        big = (1 << 61)  # span 2^62 fits a long; *64 would not
        df = spark.createDataFrame(
            [(None,), (-big,), (0,), (big,)], "k long")
        got = add_range_bucket(df, "k", 64)
        rows = {r["k"]: r["__rb"] for r in got.collect()}
        assert rows[None] == 0                  # kept, first bucket
        assert rows[-big] == 0
        assert 0 <= rows[0] <= rows[big] < 64   # monotone, in range
        # offsets join keeps every row (the inner-join contract)
        offs = bucket_offsets(got, F.lit(1))
        joined = got.join(offs, "__rb")
        assert joined.count() == 4
        total = joined.agg(F.sum(F.lit(1))).collect()[0][0]
        assert total == 4
        # all-NULL key column: least() skips NULLs, so an unguarded
        # expression would emit n_buckets-1 — the contract is 0
        # (review r13)
        all_null = spark.createDataFrame([(None,), (None,)], "k long")
        vals = {r["__rb"] for r in
                add_range_bucket(all_null, "k", 64).collect()}
        assert vals == {0}


class TestContainment:
    def test_short_in_long_detected(self, spark):
        # short doc fully embedded in a long one: containment ~1.0,
        # jaccard far below 0.8 — the case the symmetric entry misses
        short = "alpha beta gamma delta epsilon zeta eta theta"
        filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
        long_doc = filler + " " + short + " " + filler
        df = spark.createDataFrame(
            [(1, short), (2, long_doc)], "doc_id long, text string")
        from data_platform_copilot_spark.operators.dedup import (
            containment_pairs,
            jaccard_pairs,
            shingles,
        )
        sh = shingles(df, "doc_id", "text", n=3)
        cont = containment_pairs(sh, threshold=0.9).collect()
        assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
        assert cont[0]["containment"] >= 0.99
        assert jaccard_pairs(sh, threshold=0.8).collect() == []


class TestMannWhitney:
    def test_u_matches_bruteforce(self, spark):
        # reference: U = number of (a, b) pairs with a > b (+0.5 ties)
        import datetime
        rows = []
        a_vals = [1.0, 3.0, 5.0, 5.0, 9.0]
        b_vals = [2.0, 4.0, 5.0, 6.0]
        eid = 0
        for v in a_vals:
            rows.append((eid, datetime.datetime(2024, 1, 2),
                         "click", v)); eid += 1
        for v in b_vals:
            rows.append((eid, datetime.datetime(2024, 1, 2),
                         "view", v)); eid += 1
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string,"
                  " value double")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F
        lab = df.select("value", (F.col("event_type") == "click")
                        .cast("int").alias("is_a"), "event_id")
        rn = F.row_number().over(W.orderBy("value", "event_id"))
        base = lab.select("is_a", "value", rn.alias("rn"))
        wv = W.partitionBy("value")
        rk = base.select("is_a",
                         ((F.min("rn").over(wv) + F.max("rn").over(wv))
                          / 2.0).alias("avg_rank"))
        s = rk.agg(F.sum(F.when(F.col("is_a") == 1,
                                F.col("avg_rank"))).alias("r_a"),
                   F.sum("is_a").alias("na")).collect()[0]
        got_u = s["r_a"] - s["na"] * (s["na"] + 1) / 2.0
        want_u = sum(1.0 if a > b else 0.5 if a == b else 0.0
                     for a in a_vals for b in b_vals)
        assert abs(got_u - want_u) < 1e-9


class TestCompressionRatio:
    def test_exact_zlib_replay(self, spark, sf_dir):
        # byte-exact gate for the engine's one oracle-less entry:
        # every (n_bytes, n_compressed, ratio) must equal a direct
        # zlib.compress replay on the same utf-8 bytes
        import zlib

        from data_platform_copilot_spark.operators.quality import (
            compression_ratio,
        )
        from data_platform_copilot_spark.sources import load_table
        docs = load_table(spark, sf_dir, "documents").limit(200)
        want = {}
        for r in docs.select("doc_id", "text").collect():
            b = r["text"].encode("utf-8")
            want[r["doc_id"]] = (len(b), len(zlib.compress(b, 6)))
        got = compression_ratio(docs, "doc_id", "text").collect()
        assert len(got) == len(want)
        for r in got:
            nb, nc = want[r["id"]]
            assert (r["n_bytes"], r["n_compressed"]) == (nb, nc)
            assert abs(r["compression_ratio"] - nc / nb) < 1e-12

    def test_empty_and_null_docs(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            compression_ratio,
        )
        df = spark.createDataFrame(
            [(1, ""), (2, None), (3, "hello hello hello hello")],
            "doc_id long, text string")
        rows = {r["id"]: r for r in
                compression_ratio(df, "doc_id", "text").collect()}
        assert rows[1]["compression_ratio"] is None
        assert rows[2]["compression_ratio"] is None
        assert rows[3]["compression_ratio"] < 1.0

    def test_repetitive_compresses_below_prose(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            compression_ratio,
        )
        df = spark.createDataFrame(
            [(1, "spam " * 400),
             (2, "the quick brown fox jumps over the lazy dog and "
                 "then wanders across seventeen distinct meadows "
                 "while considering quantum chromodynamics")],
            "doc_id long, text string")
        rows = {r["id"]: r["compression_ratio"] for r in
                compression_ratio(df, "doc_id", "text").collect()}
        assert rows[1] < rows[2]


class TestUnicodeNormalization:
    def test_source_literals_stay_decomposed(self):
        # the unicode_nfc_normalization fixture literals are
        # INTENTIONALLY decomposed (e + U+0301, A + U+030A); an
        # editor or formatter silently NFC-normalizing the source
        # file would turn the entry into a no-op — pin the bytes
        import unicodedata
        from pathlib import Path

        import data_platform_copilot_spark.queries.quality as q
        src = Path(q.__file__).read_text(encoding="utf-8")
        assert "́" in src and "̊" in src
        assert unicodedata.normalize("NFC", "é") == "é"

    def test_normalize_unicode_operator(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            normalize_unicode,
        )
        df = spark.createDataFrame(
            [(1, "éclair"), (2, "plain"), (3, None)],
            "id long, text string")
        rows = {r["id"]: r for r in
                normalize_unicode(df, "text").collect()}
        assert rows[1]["text_norm"] == "éclair"
        assert rows[1]["was_normal"] is False
        assert rows[2]["was_normal"] is True
        assert rows[3]["text_norm"] is None and rows[3]["was_normal"] is None


class TestIncrementalAggMaintenance:
    def test_merge_equals_batch_and_chains(self, spark):
        from data_platform_copilot_spark.operators.incremental import (
            agg_state,
            merge_agg_states,
            state_report,
        )
        rows = [(i % 5, float((i * 37) % 101) - 50.0, i)
                for i in range(300)]
        df = spark.createDataFrame(rows, "g int, v double, i long")
        parts = [df.where(df["i"] % 3 == k) for k in range(3)]
        state = agg_state(parts[0], ["g"], "v")
        for p in parts[1:]:
            state = merge_agg_states(state, agg_state(p, ["g"], "v"),
                                     ["g"])
        got = {r["g"]: r for r in state_report(state, ["g"]).collect()}
        want = {r["g"]: r for r in state_report(
            agg_state(df, ["g"], "v"), ["g"]).collect()}
        assert set(got) == set(want)
        for g in want:
            for c in ("n", "min_v", "max_v"):
                assert got[g][c] == want[g][c], (g, c)
            for c in ("total", "mean_v", "std_v"):
                assert abs(got[g][c] - want[g][c]) < 1e-9, (g, c)

    def test_new_group_and_passthrough(self, spark):
        from data_platform_copilot_spark.operators.incremental import (
            agg_state,
            merge_agg_states,
        )
        a = spark.createDataFrame([(1, 10.0), (1, 20.0)], "g int, v double")
        b = spark.createDataFrame([(2, 5.0)], "g int, v double")
        m = {r["g"]: r for r in merge_agg_states(
            agg_state(a, ["g"], "v"), agg_state(b, ["g"], "v"),
            ["g"]).collect()}
        assert m[1]["n"] == 2 and m[1]["s"] == 30.0
        assert m[2]["n"] == 1 and m[2]["mn"] == 5.0 and m[2]["mx"] == 5.0


class TestLineageTruncation:
    def test_stats_do_not_compound_across_rounds(self, spark):
        # regression for the Spark 4 checkpoint-stats compounding:
        # Dataset.checkpoint carries the pre-checkpoint ESTIMATED
        # sizeInBytes into the LogicalRDD, so a per-round checkpoint
        # loop multiplies the estimate's digit count by the join
        # fan-in every round — by round ~11 Catalyst's stats visitor
        # spends minutes in BigInteger arithmetic. truncate_lineage
        # rebases the RDD so the estimate stays conf-default-sized.
        from pyspark.sql import functions as F

        from data_platform_copilot_spark.sources.registry import (
            truncate_lineage,
        )
        df = spark.range(500).select("id", (F.col("id") % 7).alias("k"))
        s = truncate_lineage(df)
        for _ in range(6):
            a, b = s.alias("a"), s.alias("b")
            s = (a.join(b, F.col("a.k") == F.col("b.k"))
                 .groupBy(F.col("a.id").alias("id"))
                 .agg(F.first(F.col("a.k")).alias("k")))
            s = truncate_lineage(s)
        bits = int(s._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
                   .stats().sizeInBytes()).bit_length()
        assert bits < 128, f"stats estimate compounding: {bits} bits"
        assert s.count() == 500

    @pytest.mark.slow
    def test_bpe_deep_run_stays_fast(self, spark):
        # end-to-end guard: 48 merges (7+ batched rounds) must stay
        # in linear per-round time — pre-fix this crossed the
        # exponential knee (rounds 9-11 went 0.7s -> 8.8s -> 85s)
        import time

        from data_platform_copilot_spark.operators.bpe import bpe_train
        texts = [f"doc {i} alpha beta gamma delta epsilon zeta"
                 f" word{i % 97} token{i % 53}" for i in range(300)]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        t0 = time.perf_counter()
        got = bpe_train(df, "text", n_merges=48, batch=8).collect()
        assert len(got) == 48
        assert time.perf_counter() - t0 < 120


class TestEpochsPlan:
    def test_allocation_conserves_budget_and_caps(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["token_budget_epochs_plan"](spark, sf_dir).collect()
        assert rows
        total_toks = sum(r["toks_available"] for r in rows)
        budget = 1.5 * total_toks
        allocated = sum(r["allocated_tokens"] for r in rows)
        # water-filling conserves the budget unless EVERY source
        # capped (budget exceeds 2 epochs of everything)
        if not all(r["capped"] for r in rows):
            assert abs(allocated - budget) < 1.0, (allocated, budget)
        for r in rows:
            assert r["allocated_tokens"] <= 2.0 * r["toks_available"] + 0.01
            assert 0.0 <= r["epochs"] <= 2.0001
            if r["capped"]:
                assert abs(r["epochs"] - 2.0) < 1e-6


class TestDataCard:
    def _docs(self, spark):
        rows = [
            (0, "alpha beta gamma", "en", "web"),
            (1, "alpha beta", "en", "web"),
            (2, "uno dos tres cuatro", "es", "books"),
            (3, "", "es", "web"),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string")

    def test_stats_sections_and_totals(self, spark):
        from data_platform_copilot_spark.operators.datacard import (
            corpus_stats)
        rows = {r["section"]: r for r in
                corpus_stats(self._docs(spark)).collect()}
        assert set(rows) == {"overall", "lang:en", "lang:es",
                             "source:web", "source:books"}
        ov = rows["overall"]
        assert ov["n_docs"] == 4
        # whitespace-token convention: split('') -> [''] counts 1
        assert ov["n_tokens"] == 3 + 2 + 4 + 1
        assert rows["lang:en"]["n_docs"] == 2
        assert rows["source:web"]["n_docs"] == 3
        assert rows["lang:es"]["mean_tokens"] == 2.5
        # per-section totals partition the overall totals
        for prefix in ("lang:", "source:"):
            grp = [r for s, r in rows.items() if s.startswith(prefix)]
            assert sum(r["n_docs"] for r in grp) == ov["n_docs"]
            assert sum(r["n_tokens"] for r in grp) == ov["n_tokens"]

    def test_render_markdown(self, spark):
        from data_platform_copilot_spark.operators.datacard import (
            corpus_data_card, render_data_card)
        card = corpus_data_card(self._docs(spark),
                                extra_sections={"Dedup": "rate 0.02"})
        assert "# Corpus Data Card" in card
        assert "**Documents**: 4" in card
        assert "## Language composition" in card
        assert "| en | 2 | 50.0% |" in card
        assert "## Dedup" in card and "rate 0.02" in card
        assert render_data_card([]).strip().endswith("_No documents._")

    def test_one_scan_plan(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.datacard import (
            corpus_stats)
        from data_platform_copilot_spark.queries.core import _t
        plan = corpus_stats(
            _t(spark, sf_dir, "documents"))._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Exchange") == 1, plan


class TestBloomDecontamination:
    def test_hits_equal_exact_rule_zero_false_negatives(
            self, spark, sf_dir):
        from data_platform_copilot_spark.operators.quality import (
            bloom_decontaminate, decontaminate)
        from data_platform_copilot_spark.sources import load_table
        docs = load_table(spark, sf_dir, "documents").limit(200)
        eval_df = docs.where("doc_id % 97 = 0")
        exact = {r["id"]: r["n_hit_ngrams"] for r in decontaminate(
            docs, "doc_id", "text", eval_df, "doc_id", "text",
            n=13).collect()}
        bloom = {r["id"]: r for r in bloom_decontaminate(
            docs, "doc_id", "text", eval_df, "doc_id", "text",
            n=13).collect()}
        assert set(bloom) == set(exact)
        for i, n_hit in exact.items():
            # identical exact-hit counts through the prefilter: the
            # Bloom guarantee (no false negatives) + intact verify
            assert bloom[i]["n_hit_ngrams"] == n_hit
            if n_hit > 0:
                assert bloom[i]["bloom_candidate"]
                assert not bloom[i]["false_positive"]
            # candidates always superset hits
            assert bloom[i]["n_candidate_grams"] >= n_hit

    def test_tiny_filter_forces_false_positives(self, spark):
        from data_platform_copilot_spark.operators.quality import (
            bloom_decontaminate)
        # 8-bit filter with k=1: ~any gram collides -> candidates
        # without hits must be flagged false_positive, never
        # contaminated
        train = spark.createDataFrame(
            [(1, "one two three four five"),
             (2, "six seven eight nine ten")],
            "doc_id long, text string")
        eval_df = spark.createDataFrame(
            [(100, "eleven twelve thirteen fourteen fifteen")],
            "doc_id long, text string")
        rows = {r["id"]: r for r in bloom_decontaminate(
            train, "doc_id", "text", eval_df, "doc_id", "text",
            n=5, m_bits=2, k=1).collect()}
        for r in rows.values():
            assert not r["contaminated"]
            assert r["false_positive"] == r["bloom_candidate"]


class TestCountMinSketch:
    def test_never_undercounts_and_tight_when_wide(self, spark, sf_dir):
        from data_platform_copilot_spark.operators.selection import (
            cms_token_counts)
        from data_platform_copilot_spark.sources import load_table
        docs = load_table(spark, sf_dir, "documents").limit(100)
        rows = cms_token_counts(docs, "text", width=1 << 15,
                                depth=4, k=10).collect()
        assert len(rows) == 10
        for r in rows:
            # CMS one-sided error: estimates never undercount
            assert r["n_cms"] >= r["n_exact"]
            assert r["overcount"] == r["n_cms"] - r["n_exact"]
        # a wide sketch on a small corpus should be near-exact
        assert sum(r["overcount"] for r in rows) <= sum(
            r["n_exact"] for r in rows) * 0.05

    def test_narrow_sketch_forces_collisions(self, spark):
        from data_platform_copilot_spark.operators.selection import (
            cms_token_counts)
        df = spark.createDataFrame(
            [(i, f"tok{i % 50} filler{i}") for i in range(200)],
            "doc_id long, text string")
        rows = cms_token_counts(df, "text", width=4, depth=1,
                                k=5).collect()
        # 250 distinct tokens into 4 cells: overcount is unavoidable
        assert all(r["n_cms"] >= r["n_exact"] for r in rows)
        assert any(r["overcount"] > 0 for r in rows)


class TestRangeBucketProperties:
    @pytest.mark.slow
    def test_bucket_monotone_and_in_range(self, spark):
        """Property battery for the two-phase prefix foundation:
        over adversarial key sets (extremes, negatives, ties, tiny
        spans) the bucket id is within [0, n) and monotone
        nondecreasing in the key — the only two facts the callers'
        offset joins rely on."""
        from data_platform_copilot_spark.operators.layout import (
            add_range_bucket)
        cases = [
            [0, 1, 2, 3],
            [-5, -5, -5],                      # constant
            [7],                               # singleton
            [-(1 << 61), 0, (1 << 61)],        # extreme span
            [-(1 << 61), -(1 << 61) + 1],      # extreme, tiny span
            list(range(-20, 20, 3)) * 2,       # ties
        ]
        for n in (1, 2, 64):
            for keys in cases:
                df = spark.createDataFrame([(k,) for k in keys],
                                           "k long")
                got = sorted((r["k"], r["__rb"]) for r in
                             add_range_bucket(df, "k", n).collect())
                assert all(0 <= b < n for _, b in got), (n, got)
                bs = [b for _, b in got]
                assert bs == sorted(bs), (n, got)  # monotone in key


class TestTwoPhaseSessionization:
    """operators/sessionize.py must reproduce the one-window gap
    sessionization EXACTLY — same 1-based per-user session ids — for
    any chunk width (r13 verdict #1: the whale-proof plan is only
    shippable if it is bit-identical on uniform data)."""

    GAP = 1800

    @staticmethod
    def _reference(rows, gap_s):
        """Independent pure-Python fold: rows = [(user, epoch_float)];
        returns {(user, floor_epoch): session_id} semantics as a list
        aligned with sorted order."""
        import math
        out = {}
        by_user = {}
        for u, e in rows:
            by_user.setdefault(u, []).append(e)
        for u, es in by_user.items():
            es.sort()
            sid, prev = 0, None
            for e in es:
                if prev is None or math.floor(e) - math.floor(prev) \
                        > gap_s:
                    sid += 1
                prev = e
                out.setdefault(u, []).append((e, sid))
        return out

    def _run(self, spark, rows, chunk_s):
        import datetime as dt
        from data_platform_copilot_spark.operators.sessionize import (
            two_phase_session_ids)
        data = [(u, dt.datetime(2024, 1, 1)
                 + dt.timedelta(seconds=e)) for u, e in rows]
        df = spark.createDataFrame(data, "user_id long, ts timestamp")
        got = two_phase_session_ids(
            df, gap_s=self.GAP, chunk_s=chunk_s).collect()
        base = dt.datetime(2024, 1, 1)
        return sorted((r["user_id"],
                       (r["ts"] - base).total_seconds(),
                       r["session_id"]) for r in got)

    def _check(self, spark, rows, chunk_s):
        got = self._run(spark, rows, chunk_s)
        ref = self._reference(rows, self.GAP)
        want = sorted((u, e, sid) for u, pairs in ref.items()
                      for e, sid in pairs)
        assert got == want, f"chunk_s={chunk_s}: {got} != {want}"

    def test_edge_cases_all_chunk_widths(self, spark):
        g = self.GAP
        rows = [
            # user 1: gap exactly == gap_s (same session), gap_s + 1
            # (new session), then a tie pair
            (1, 0.0), (1, float(g)), (1, 2.0 * g + 1),
            (1, 2.0 * g + 1), (1, 2.0 * g + 1),
            # user 2: session spanning many chunks (steps just under
            # the gap), then a far jump
            (2, 0.0), (2, g - 1.0), (2, 2.0 * (g - 1)),
            (2, 3.0 * (g - 1)), (2, 100000.0),
            # user 3: single event; user 4: sub-second precision
            # around the floor-second gap semantics — 1800.999 vs
            # 0.001 floors to a 1800 s gap (same session), while
            # 1801.0 vs 0.9 floors to 1801 (new session)
            (3, 42.5),
            (4, 0.001), (4, g + 0.999),
            (4, 10 * g + 0.9), (4, 11 * g + 1.0),
        ]
        for chunk_s in (1, 7, 1799, 1800, 86400, 10**9):
            self._check(spark, rows, chunk_s)

    def test_seeded_fuzz_matches_reference_and_classic(self, spark):
        import numpy as np
        rng = np.random.default_rng(17)
        rows = [(int(rng.integers(0, 6)),
                 float(np.round(rng.uniform(0, 4 * 86400), 3)))
                for _ in range(400)]
        for chunk_s in (977, 3600, 86400):
            self._check(spark, rows, chunk_s)

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["sessionization_gaps"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["sessionization_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a


class TestChunkedTrailingWindow:
    """operators/chunked_window.py: the whale-proof bounded trailing
    frame must equal collect_list over rowsBetween(-(k-1), 0) for any
    chunk width — including chunks far narrower than the frame (the
    bounded-carry proof's hard case: the last k-1 values span many
    chunks)."""

    def _fuzz_df(self, spark, seed, n=300, users=5, span_s=4 * 86400):
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(seed)
        base = dt.datetime(2024, 1, 1)
        rows = [(int(rng.integers(0, users)), i,
                 base + dt.timedelta(
                     seconds=float(np.round(rng.uniform(0, span_s), 3))),
                 float(rng.integers(-50, 50)) / 4)
                for i in range(n)]
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "value double")

    def _check(self, spark, df, k, chunk_s):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            trailing_values_chunked)
        got = {(r["user_id"], r["event_id"]): list(r["win"])
               for r in trailing_values_chunked(
                   df, "user_id", "ts", ["ts", "event_id"], "value",
                   k=k, chunk_s=chunk_s).collect()}
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(-(k - 1), 0))
        want = {(r["user_id"], r["event_id"]): list(r["win"])
                for r in df.select(
                    "user_id", "event_id",
                    F.collect_list("value").over(w).alias("win"))
                .collect()}
        assert got == want and len(got) == df.count()

    def test_equivalence_across_chunk_widths(self, spark):
        df = self._fuzz_df(spark, 29)
        # 601 s chunks: ~most frames straddle MANY chunks (carry does
        # the work); 86400: the production default; 10^9: one chunk
        # (pure local path)
        for chunk_s in (601, 7200, 86400, 10**9):
            self._check(spark, df, k=20, chunk_s=chunk_s)

    def test_small_k_and_sparse_users(self, spark):
        df = self._fuzz_df(spark, 31, n=60, users=20)  # ~3 rows/user
        for k in (2, 3, 5):
            self._check(spark, df, k=k, chunk_s=3600)

    def test_null_values_match_reference_row_accounting(self, spark):
        """Review r14: the reference collect_list frame counts ROWS
        but drops NULL values — a null-heavy corpus must produce
        short arrays, never backfill with older values."""
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(41)
        base = dt.datetime(2024, 1, 1)
        rows = [(int(rng.integers(0, 3)), i,
                 base + dt.timedelta(
                     seconds=float(rng.uniform(0, 3 * 86400))),
                 None if rng.random() < 0.4 else float(i))
                for i in range(200)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "value double")
        for chunk_s in (601, 86400):
            self._check(spark, df, k=6, chunk_s=chunk_s)

    def test_duplicate_timestamps_total_order(self, spark):
        """Tied ts values: event_id breaks the tie identically in
        both formulations (struct sort vs window orderBy)."""
        import datetime as dt
        base = dt.datetime(2024, 1, 1)
        rows = [(1, i, base + dt.timedelta(seconds=(i // 3) * 50_000),
                 float(i)) for i in range(30)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "value double")
        self._check(spark, df, k=7, chunk_s=86400)

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["ewma_value_per_user"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["ewma_value_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a


class TestChunkedLastIgnoreNulls:
    """operators/chunked_window.last_ignorenulls_chunked must equal
    last(value, ignorenulls=True) over the exclusive unbounded frame
    for any chunk width — including widths so narrow the carry must
    cross many empty and all-null chunks."""

    def _fuzz_df(self, spark, seed, n=300, users=5, span_s=4 * 86400,
                 p_null=0.5):
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(seed)
        base = dt.datetime(2024, 1, 1)
        rows = [(int(rng.integers(0, users)), i,
                 base + dt.timedelta(
                     seconds=float(np.round(rng.uniform(0, span_s), 3))),
                 None if rng.random() < p_null else float(i))
                for i in range(n)]
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "value double")

    def _check(self, spark, df, chunk_s):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            last_ignorenulls_chunked)
        got = {(r["user_id"], r["event_id"]): r["prev"]
               for r in last_ignorenulls_chunked(
                   df, "user_id", "ts", ["ts", "event_id"], "value",
                   chunk_s=chunk_s).collect()}
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
        want = {(r["user_id"], r["event_id"]): r["prev"]
                for r in df.select(
                    "user_id", "event_id",
                    F.last("value", ignorenulls=True).over(w)
                    .alias("prev")).collect()}
        assert got == want and len(got) == df.count()

    def test_equivalence_across_chunk_widths(self, spark):
        df = self._fuzz_df(spark, 43)
        # 601 s: carries cross many chunks; 86400: production
        # default; 10^9: one chunk (pure local path)
        for chunk_s in (601, 7200, 86400, 10**9):
            self._check(spark, df, chunk_s)

    def test_one_second_chunks_max_fragmentation(self, spark):
        # chunk_s=1: nearly every row is alone in its chunk, so the
        # carry does ALL the work across a maximal summary table
        df = self._fuzz_df(spark, 83, n=80, span_s=300)
        self._check(spark, df, 1)

    def test_all_null_and_sparse_users(self, spark):
        # 90% nulls: most chunks contribute NO summary value, so the
        # carry must skip whole all-null chunks; 20 users over 60
        # rows: many single-row keys (prev is null everywhere)
        df = self._fuzz_df(spark, 47, n=60, users=20, p_null=0.9)
        for chunk_s in (601, 86400):
            self._check(spark, df, chunk_s)

    def test_struct_values_carry_whole_rows(self, spark):
        """A struct value carries several attributes of the same
        qualifying row at once (the attribution_two_phase shape)."""
        import datetime as dt
        base = dt.datetime(2024, 1, 1)
        rows = [(1, i, base + dt.timedelta(seconds=i * 40_000),
                 chr(97 + i % 5), float(i)) for i in range(40)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "tag string, value double")
        qual = F.when(F.col("tag") != "a",
                      F.struct(F.col("tag").alias("t"),
                               F.col("value").alias("v")))
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            last_ignorenulls_chunked)
        got = {r["event_id"]: (r["prev"]["t"], r["prev"]["v"])
               for r in last_ignorenulls_chunked(
                   df.select("user_id", "event_id", "ts",
                             qual.alias("q")),
                   "user_id", "ts", ["ts", "event_id"], "q",
                   chunk_s=50_000).collect()
               if r["prev"] is not None}
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
        want = {r["event_id"]: (r["prev"]["t"], r["prev"]["v"])
                for r in df.select(
                    "event_id",
                    F.last(qual, ignorenulls=True).over(w)
                    .alias("prev")).collect()
                if r["prev"] is not None}
        assert got == want and got

    def test_ts_must_lead_order_cols(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.chunked_window import (
            last_ignorenulls_chunked)
        df = self._fuzz_df(spark, 53, n=5)
        with pytest.raises(ValueError, match="ts_col must lead"):
            last_ignorenulls_chunked(
                df, "user_id", "ts", ["event_id", "ts"], "value")

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        # total_value is round(sum(double), 2) from two different
        # physical plans: tolerate a one-cent rounding-boundary
        # divergence (exactness vs DuckDB is the shared oracle's job)
        from data_platform_copilot_spark.queries import QUERIES
        a = {r["attributed_type"]: r for r in
             QUERIES["attribution_last_touch"](spark, sf_dir).collect()}
        b = {r["attributed_type"]: r for r in
             QUERIES["attribution_two_phase"](spark, sf_dir).collect()}
        assert a.keys() == b.keys() and a
        for k in a:
            assert a[k]["n_purchases"] == b[k]["n_purchases"]
            assert abs(a[k]["total_value"] - b[k]["total_value"]) <= 0.011


class TestSessionDepthTwoPhase:
    """session_depth_two_phase reuses two_phase_session_ids; the
    histogram must equal the one-window entry exactly (grouping is
    tie-insensitive: ties have gap 0 and never start a session)."""

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        # frac is round(count/total, 4) from two different physical
        # plans: tolerate a one-ULP-of-the-4th-decimal divergence
        # (exactness vs DuckDB is the shared oracle's job)
        from data_platform_copilot_spark.queries import QUERIES
        a = {r["depth_bucket"]: r for r in
             QUERIES["session_depth_histogram"](spark, sf_dir).collect()}
        b = {r["depth_bucket"]: r for r in
             QUERIES["session_depth_two_phase"](spark, sf_dir).collect()}
        assert a.keys() == b.keys() and a
        for k in a:
            assert a[k]["n_sessions"] == b[k]["n_sessions"]
            assert abs(a[k]["frac"] - b[k]["frac"]) <= 1.1e-4

    def test_duplicate_ts_grouping_is_order_insensitive(self, spark):
        """Many duplicate timestamps per user: both formulations must
        bucket identically even though the operator orders by ts only
        and the one-window plan by (ts, event_id)."""
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(59)
        base = dt.datetime(2024, 1, 1)
        rows = [(int(rng.integers(0, 4)), i,
                 base + dt.timedelta(
                     seconds=int(rng.integers(0, 40)) * 3600))
                for i in range(200)]  # heavy ts collisions
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp")
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.sessionize import (
            two_phase_session_ids)
        two = (two_phase_session_ids(df.select("user_id", "ts"),
                                     gap_s=1800)
               .groupBy("user_id", "session_id")
               .agg(F.count("*").alias("depth")))
        wo = W.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag("ts").over(wo)
        is_start = F.when(
            prev.isNull()
            | (F.col("ts").cast("long") - prev.cast("long") > 1800),
            1).otherwise(0)
        sess = F.sum(is_start).over(
            wo.rowsBetween(W.unboundedPreceding, 0))
        one = (df.select("user_id", sess.alias("session_id"))
               .groupBy("user_id", "session_id")
               .agg(F.count("*").alias("depth")))
        a = sorted(map(tuple, two.select("user_id", "depth").collect()))
        b = sorted(map(tuple, one.select("user_id", "depth").collect()))
        assert a == b and a


class TestNullKeyPartitions:
    """A NULL key is an ordinary partition value to a window
    (partitionBy groups all NULLs together); the two-phase twins'
    summary joins must be null-safe or those rows silently vanish.
    One fixture, all three chunked operators vs their one-window
    formulations."""

    def _df(self, spark, seed=61, n=120):
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(seed)
        base = dt.datetime(2024, 1, 1)
        rows = [(None if rng.random() < 0.3 else int(rng.integers(0, 3)),
                 i,
                 base + dt.timedelta(
                     seconds=float(np.round(rng.uniform(0, 3 * 86400), 3))),
                 None if rng.random() < 0.3 else float(i))
                for i in range(n)]
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "value double")

    def test_two_phase_session_ids_keeps_null_users(self, spark):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.sessionize import (
            two_phase_session_ids)
        df = self._df(spark).select("user_id", "event_id", "ts")
        got = {r["event_id"]: (r["user_id"], r["session_id"])
               for r in two_phase_session_ids(
                   df, chunk_s=3600).collect()}
        w = W.partitionBy("user_id").orderBy("ts")
        prev = F.lag("ts").over(w)
        new = (prev.isNull()
               | (F.col("ts").cast("long") - prev.cast("long") > 1800)
               ).cast("int")
        want = {r["event_id"]: (r["user_id"], r["session_id"])
                for r in df.withColumn(
                    "session_id",
                    F.sum(new).over(
                        w.rowsBetween(W.unboundedPreceding, 0)))
                .collect()}
        assert got == want and len(got) == df.count()

    def test_trailing_values_keeps_null_users(self, spark):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            trailing_values_chunked)
        df = self._df(spark, seed=67)
        got = {(r["user_id"], r["event_id"]): list(r["win"])
               for r in trailing_values_chunked(
                   df, "user_id", "ts", ["ts", "event_id"], "value",
                   k=4, chunk_s=3600).collect()}
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(-3, 0))
        want = {(r["user_id"], r["event_id"]): list(r["win"])
                for r in df.select(
                    "user_id", "event_id",
                    F.collect_list("value").over(w).alias("win"))
                .collect()}
        assert got == want and len(got) == df.count()

    def test_last_ignorenulls_keeps_null_users(self, spark):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            last_ignorenulls_chunked)
        df = self._df(spark, seed=71)
        got = {(r["user_id"], r["event_id"]): r["prev"]
               for r in last_ignorenulls_chunked(
                   df, "user_id", "ts", ["ts", "event_id"], "value",
                   chunk_s=3600).collect()}
        w = (W.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(W.unboundedPreceding, -1))
        want = {(r["user_id"], r["event_id"]): r["prev"]
                for r in df.select(
                    "user_id", "event_id",
                    F.last("value", ignorenulls=True).over(w)
                    .alias("prev")).collect()}
        assert got == want and len(got) == df.count()


class TestChunkedLead:
    """operators/chunked_window.lead_chunked must equal
    lead().over(partitionBy(key).orderBy(order)) for any chunk
    width — the offset-window member of the two-phase family. The
    carry is one row per occupied chunk (the chunk's first value),
    so the hard cases are chunks of one row (max fragmentation) and
    NULL values (a next row whose VALUE is null must yield null, not
    fall through to the next chunk's value)."""

    def _fuzz_df(self, spark, seed, n=300, users=5, null_p=0.3):
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(seed)
        base = dt.datetime(2024, 1, 1)
        rows = [(int(rng.integers(0, users)), i,
                 base + dt.timedelta(
                     seconds=float(np.round(rng.uniform(0, 4 * 86400), 3))),
                 None if rng.random() < null_p
                 else str(int(rng.integers(0, 5))))
                for i in range(n)]
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "event_type string")

    def _check(self, spark, df, chunk_s):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.chunked_window import (
            lead_chunked)
        got = {(r["user_id"], r["event_id"]): r["nt"]
               for r in lead_chunked(
                   df, "user_id", "ts", ["ts", "event_id"],
                   "event_type", out_col="nt",
                   chunk_s=chunk_s).collect()}
        w = W.partitionBy("user_id").orderBy("ts", "event_id")
        want = {(r["user_id"], r["event_id"]): r["nt"]
                for r in df.select(
                    "user_id", "event_id",
                    F.lead("event_type").over(w).alias("nt")).collect()}
        assert got == want and len(got) == df.count()

    def test_equivalence_across_chunk_widths(self, spark):
        df = self._fuzz_df(spark, 83)
        # 1 s: ~every chunk is one row (every lead crosses the
        # carry); 86400: production default; 10^9: one chunk
        for chunk_s in (1, 3600, 86400, 10**9):
            self._check(spark, df, chunk_s)

    def test_null_values_and_null_keys(self, spark):
        import datetime as dt

        import numpy as np
        rng = np.random.default_rng(89)
        base = dt.datetime(2024, 1, 1)
        rows = [(None if rng.random() < 0.3 else int(rng.integers(0, 3)),
                 i,
                 base + dt.timedelta(
                     seconds=float(np.round(rng.uniform(0, 2 * 86400), 3))),
                 None if rng.random() < 0.5
                 else str(int(rng.integers(0, 3))))
                for i in range(150)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "event_type string")
        for chunk_s in (1, 3600):
            self._check(spark, df, chunk_s)

    def test_duplicate_timestamps_total_order(self, spark):
        import datetime as dt
        base = dt.datetime(2024, 1, 1)
        rows = [(1, i, base + dt.timedelta(seconds=(i // 4) * 40_000),
                 str(i)) for i in range(32)]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "event_type string")
        self._check(spark, df, chunk_s=3600)

    def test_ts_must_lead_order_cols(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.chunked_window import (
            lead_chunked)
        df = self._fuzz_df(spark, 1, n=5)
        with pytest.raises(ValueError):
            lead_chunked(df, "user_id", "ts", ["event_id", "ts"],
                         "event_type")

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["event_transition_matrix"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["transition_matrix_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a


class TestSaltedTopk:
    """operators/skew.salted_topk must equal the one-window
    row_number-and-filter formulation: any global top-k row is top-k
    within its own salt bucket, so phase 1 never loses a survivor and
    phase 2's ranks over the survivors equal the global ranks."""

    def _df(self, spark, seed, n=400, groups=4):
        import numpy as np
        rng = np.random.default_rng(seed)
        rows = [(f"g{int(rng.integers(0, groups))}", i,
                 float(np.round(rng.uniform(-100, 100), 2)))
                for i in range(n)]
        return spark.createDataFrame(rows, "seg string, id long, val double")

    def _check(self, spark, df, k, salts):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.skew import salted_topk
        got = sorted(map(tuple, salted_topk(
            df, ["seg"], [F.desc("val"), F.col("id")], k=k,
            salts=salts).select("seg", "id", "val", "rnk").collect()))
        w = W.partitionBy("seg").orderBy(F.desc("val"), F.col("id"))
        want = sorted(map(tuple, df.withColumn(
            "rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= k)
            .select("seg", "id", "val", "rnk").collect()))
        assert got == want and got

    def test_equivalence_across_salts_and_k(self, spark):
        df = self._df(spark, 97)
        for salts in (1, 2, 32, 101):
            self._check(spark, df, k=3, salts=salts)
        self._check(spark, df, k=25, salts=8)

    def test_k_larger_than_group(self, spark):
        # groups of ~5 rows, k=50: every row survives with its rank
        df = self._df(spark, 101, n=20, groups=4)
        self._check(spark, df, k=50, salts=16)

    def test_validation(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.skew import salted_topk
        df = self._df(spark, 1, n=5)
        with pytest.raises(ValueError):
            salted_topk(df, ["seg"], [F.col("id")], k=0)
        with pytest.raises(ValueError):
            salted_topk(df, ["seg"], [F.col("id")], k=1, salts=0)

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["window_rank_topk_per_group"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["topk_per_group_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a


class TestDistributionTwoPhase:
    """distribution_funcs_two_phase: range-bucketed global ranks must
    reproduce ntile/percent_rank/cume_dist exactly — including the
    integer ntile arithmetic at small N and the degenerate
    single-bucket corpus (all rows one acctbal value)."""

    def _cmp(self, spark, df):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.layout import (
            bucketed_global_rank, ntile_expr)
        w = W.partitionBy("segment").orderBy("c_acctbal", "c_custkey")
        want = sorted(map(tuple, df.select(
            "c_custkey", "segment",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cum_dist"))
            .collect()))

        r = bucketed_global_rank(
            df.withColumn("__ok", F.floor("c_acctbal").cast("long")),
            ["segment"], "__ok",
            [F.col("c_acctbal"), F.col("c_custkey")],
            rank_col="__rn", size_col="__n")
        got = sorted(map(tuple, r.select(
            "c_custkey", "segment",
            ntile_expr("__rn", "__n", 4).alias("quartile"),
            F.round(F.when(F.col("__n") > 1,
                           (F.col("__rn") - 1) / (F.col("__n") - 1))
                    .otherwise(F.lit(0.0)), 6).alias("pct_rank"),
            F.round(F.col("__rn") / F.col("__n"), 6).alias("cum_dist"))
            .collect()))
        assert got == want and got

    def test_small_and_odd_segment_sizes(self, spark):
        # N = 1, 2, 3, 5, 11: every ntile branch (N < 4, N % 4 != 0)
        rows, ck = [], 0
        for seg, n in [("a", 1), ("b", 2), ("c", 3), ("d", 5), ("e", 11)]:
            for i in range(n):
                ck += 1
                rows.append((ck, seg, float(i * 7 % 13)))
        df = spark.createDataFrame(
            rows, "c_custkey long, segment string, c_acctbal double")
        self._cmp(spark, df)

    def test_degenerate_single_value_column(self, spark):
        # all acctbal equal: one bucket holds everything — collapses
        # to the one-window plan but must stay exact
        df = spark.createDataFrame(
            [(i, "s", 42.0) for i in range(37)],
            "c_custkey long, segment string, c_acctbal double")
        self._cmp(spark, df)

    def test_fuzz(self, spark):
        import numpy as np
        rng = np.random.default_rng(103)
        rows = [(i, f"s{int(rng.integers(0, 3))}",
                 float(np.round(rng.uniform(-999, 9999), 2)))
                for i in range(500)]
        df = spark.createDataFrame(
            rows, "c_custkey long, segment string, c_acctbal double")
        self._cmp(spark, df)

    def test_query_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["window_distribution_funcs"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["distribution_funcs_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a


class TestMarginTopk:
    """operators/similarity.margin_topk vs an independent numpy
    reference of the Artetxe & Schwenk ratio margin."""

    def test_matches_numpy_reference(self, spark):
        import numpy as np
        rng = np.random.default_rng(107)
        dim, na, nb, k, m = 8, 30, 25, 4, 10
        A = rng.normal(size=(na, dim))
        B = rng.normal(size=(nb, dim))
        left = spark.createDataFrame(
            [(i, [float(x) for x in A[i]]) for i in range(na)],
            "vec_id long, embedding array<double>")
        right = spark.createDataFrame(
            [(100 + j, [float(x) for x in B[j]]) for j in range(nb)],
            "vec_id long, embedding array<double>")

        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        cos = An @ Bn.T                       # na x nb
        # k-NN avg per side (ties impossible at float resolution)
        a_avg = np.sort(cos, axis=1)[:, -k:].mean(axis=1)
        b_avg = np.sort(cos.T, axis=1)[:, -k:].mean(axis=1)
        cand = []
        for i in range(na):
            for j in np.argsort(-cos[i])[:k]:
                margin = cos[i, j] / ((a_avg[i] + b_avg[j]) / 2)
                cand.append((i, 100 + int(j), cos[i, j], margin))
        cand.sort(key=lambda t: (-t[3], t[0], t[1]))
        want = [(s, t, round(c, 6), round(mg, 6), rk + 1)
                for rk, (s, t, c, mg) in enumerate(cand[:m])]

        from data_platform_copilot_spark.operators.similarity import (
            margin_topk)
        got = [(r["src_id"], r["tgt_id"], round(r["cosine"], 6),
                round(r["margin"], 6), r["rank"])
               for r in margin_topk(left, right, "vec_id", "embedding",
                                    k=k, m=m)
               .orderBy("rank").collect()]
        assert got == want

    def test_entry_shape(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["ann_margin_scores"](spark, sf_dir).collect()
        assert [r["rank"] for r in
                sorted(rows, key=lambda r: r["rank"])] == list(
                    range(1, len(rows) + 1))
        margins = [r["margin"] for r in
                   sorted(rows, key=lambda r: r["rank"])]
        assert margins == sorted(margins, reverse=True)
        # src side is labels 0-4, tgt side labels 5-9: disjoint ids
        assert not ({r["src_id"] for r in rows}
                    & {r["tgt_id"] for r in rows})


class TestBucketedGlobalRank:
    """operators/layout.bucketed_global_rank + ntile_expr: the
    generic two-phase rank behind distribution_funcs_two_phase and
    ccnet_buckets_two_phase."""

    def test_null_partition_values_rank_like_any_other(self, spark):
        import numpy as np

        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.layout import (
            bucketed_global_rank)
        rng = np.random.default_rng(113)
        rows = [(None if rng.random() < 0.3 else f"p{int(rng.integers(0, 3))}",
                 i, int(rng.integers(-500, 500)))
                for i in range(300)]
        df = spark.createDataFrame(rows, "part string, id long, v long")
        got = sorted(map(tuple, bucketed_global_rank(
            df, ["part"], "v", [F.col("v"), F.col("id")])
            .select("part", "id", "rn", "n_part").collect()),
            key=lambda t: (t[0] is None, t))
        w = W.partitionBy("part").orderBy("v", "id")
        want = sorted(map(tuple, df.select(
            "part", "id",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count("*").over(W.partitionBy("part")).alias("n_part"))
            .collect()), key=lambda t: (t[0] is None, t))
        assert got == want and len(got) == 300

    @pytest.mark.slow
    def test_ntile_expr_matches_window_ntile(self, spark):
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.layout import (
            bucketed_global_rank, ntile_expr)
        # N = 1..23 across parts, tiles in {1, 2, 3, 4, 7}: every
        # small-N branch of the integer arithmetic
        rows = []
        for p in range(1, 24):
            for i in range(p):
                rows.append((f"p{p:02d}", i, (i * 11) % 17))
        df = spark.createDataFrame(rows, "part string, id long, v long")
        ranked = bucketed_global_rank(df, ["part"], "v",
                                      [F.col("v"), F.col("id")])
        for tiles in (1, 2, 3, 4, 7):
            got = sorted(map(tuple, ranked.select(
                "part", "id",
                ntile_expr("rn", "n_part", tiles).alias("t")).collect()))
            w = W.partitionBy("part").orderBy("v", "id")
            want = sorted(map(tuple, df.select(
                "part", "id",
                F.ntile(tiles).over(w).cast("long").alias("t"))
                .collect()))
            assert got == want, tiles

    def test_ntile_expr_validation(self):
        import pytest

        from data_platform_copilot_spark.operators.layout import ntile_expr
        with pytest.raises(ValueError):
            ntile_expr("rn", "n", 0)

    def test_ccnet_entry_equals_one_window_entry(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        a = sorted(map(tuple, QUERIES["ccnet_perplexity_buckets"](
            spark, sf_dir).collect()))
        b = sorted(map(tuple, QUERIES["ccnet_buckets_two_phase"](
            spark, sf_dir).collect()))
        assert a == b and a

    def test_compression_band_assignment_matches_ntile(self, spark, sf_dir):
        """The structural oracle of compression_bands_two_phase pins
        band count/monotonicity only — this pins the per-document
        BAND ASSIGNMENT against the one-window ntile."""
        from pyspark.sql import Window as W

        from data_platform_copilot_spark.operators.layout import (
            bucketed_global_rank, ntile_expr)
        from data_platform_copilot_spark.queries.text import (
            _compression_parts)
        _, valid = _compression_parts(spark, sf_dir)
        valid = valid.cache()
        try:
            wb = W.partitionBy("lang").orderBy("compression_ratio", "id")
            want = {r["id"]: r["band"] for r in valid.withColumn(
                "band", F.ntile(4).over(wb)).collect()}
            ranked = bucketed_global_rank(
                valid.withColumn(
                    "__ok",
                    F.floor(F.col("compression_ratio") * 1_000_000)
                    .cast("long")),
                ["lang"], "__ok",
                [F.col("compression_ratio"), F.col("id")],
                rank_col="__rn", size_col="__n")
            got = {r["id"]: r["band"] for r in ranked.withColumn(
                "band", ntile_expr("__rn", "__n", 4)).collect()}
            assert got == want and got
        finally:
            valid.unpersist()


@pytest.mark.slow
class TestRetrievalEval:
    """ann_rrf_fusion / ann_map_report: cross-entry consistency with
    ann_recall_report (same two arms, same panel) plus shape
    invariants the SQL oracle implies but a regression could break
    silently."""

    def test_map_hits_equal_recall_hits(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        recall = {r["query_id"]: r["n_recalled"] for r in
                  QUERIES["ann_recall_report"](spark, sf_dir).collect()}
        ap = {r["query_id"]: r["n_hits"] for r in
              QUERIES["ann_map_report"](spark, sf_dir).collect()}
        assert ap == recall and ap

    def test_map_bounds_and_perfect_prefix(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        for r in QUERIES["ann_map_report"](spark, sf_dir).collect():
            assert 0.0 <= r["ap_at_k"] <= 1.0
            # all-10 hits in LSH order identical to exact order
            # would give AP exactly 1.0; any miss strictly less
            if r["n_hits"] < r["k"]:
                assert r["ap_at_k"] < 1.0

    def test_rrf_ranks_and_both_arm_dominance(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["ann_rrf_fusion"](spark, sf_dir).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            rs = sorted(rs, key=lambda r: r["fused_rank"])
            assert [r["fused_rank"] for r in rs] == list(
                range(1, len(rs) + 1))
            scores = [r["rrf_score"] for r in rs]
            assert scores == sorted(scores, reverse=True)
            # a doc in BOTH arms at rank 1 scores 2/61 — the max;
            # nothing can beat it
            assert scores[0] <= round(2 / 61, 6) + 1e-9


class TestParetoFrontier:
    """operators/selection.pareto_frontier_2d vs a naive all-pairs
    reference — duplicates mutually non-dominating, NULL metrics
    excluded, anti-correlated chains fully kept."""

    @staticmethod
    def _naive(points):
        pts = [(x, y, i) for i, (x, y) in enumerate(points)
               if x is not None and y is not None]
        out = []
        for x, y, i in pts:
            dominated = any(
                (bx > x and by >= y) or (bx >= x and by > y)
                for bx, by, _ in pts)
            if not dominated:
                out.append(i)
        return sorted(out)

    def _check(self, spark, points, n_buckets=8):
        from data_platform_copilot_spark.operators.selection import (
            pareto_frontier_2d)
        df = spark.createDataFrame(
            [(i, x, y) for i, (x, y) in enumerate(points)],
            "id long, x long, y long")
        got = sorted(r["id"] for r in pareto_frontier_2d(
            df, "x", "y", n_buckets=n_buckets).collect())
        assert got == self._naive(points), points[:5]

    def test_fuzz(self, spark):
        import numpy as np
        rng = np.random.default_rng(127)
        for trial in range(3):
            pts = [(int(rng.integers(0, 40)), int(rng.integers(0, 40)))
                   for _ in range(200)]
            self._check(spark, pts, n_buckets=5 + trial * 7)

    def test_duplicates_all_kept(self, spark):
        # three copies of the single best point: all survive
        self._check(spark, [(10, 10), (10, 10), (10, 10), (1, 1)])

    def test_anticorrelated_chain_fully_kept(self, spark):
        self._check(spark, [(i, 100 - i) for i in range(50)])

    def test_null_metrics_excluded(self, spark):
        self._check(spark, [(5, 5), (None, 99), (99, None), (4, 6)])

    def test_equal_x_keeps_only_max_y_ties(self, spark):
        self._check(spark, [(7, 3), (7, 9), (7, 9), (2, 50)])


class TestQuantileNormalize:
    """quantile_normalize_doclen invariants beyond the oracle hash:
    single-source identity and within-source monotonicity."""

    def test_single_source_is_identity(self, spark):
        from data_platform_copilot_spark.queries import QUERIES
        import data_platform_copilot_spark.queries.sampling as S
        df = spark.createDataFrame(
            [(i, "only", (i * 37) % 101 + 1) for i in range(80)],
            "doc_id long, source string, n_chars long")
        import tempfile
        import os
        with tempfile.TemporaryDirectory() as td:
            df.write.mode("overwrite").parquet(
                os.path.join(td, "documents.parquet"))
            out = QUERIES["quantile_normalize_doclen"](spark, td).collect()
        # one source: rs == rp positions, so normalized == own value
        assert out and all(r["normalized"] == r["n_chars"] for r in out)

    def test_monotone_within_source(self, spark, sf_dir):
        from data_platform_copilot_spark.queries import QUERIES
        rows = QUERIES["quantile_normalize_doclen"](spark, sf_dir).collect()
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(
                (r["n_chars"], r["doc_id"], r["normalized"]))
        assert by_src
        for src, vals in by_src.items():
            vals.sort()
            norms = [n for _, _, n in vals]
            assert norms == sorted(norms), src

    def test_null_image_raises(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.layout import (
            bucketed_global_rank)
        df = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, None)], "part string, id long, v long")
        with pytest.raises(Exception, match="non-null"):
            bucketed_global_rank(df, ["part"], "v",
                                 [F.col("v"), F.col("id")]).collect()


class TestBucketedExactPercentiles:
    """operators/layout.bucketed_exact_percentiles: the two-phase
    exact-percentile selection behind exact_percentiles /
    approx_percentiles must be BIT-identical to Spark's
    ``percentile`` aggregate (it replicates Percentile.getPercentile
    — position arithmetic, early returns, interpolation order)."""

    def _cmp(self, df, parts, col, ps):
        from data_platform_copilot_spark.operators.layout import (
            bucketed_exact_percentiles)
        old = (df.groupBy(*parts)
               .agg(*[F.expr(f"percentile({col}, {p})").alias(f"o{i}")
                      for i in range(len(ps))
                      for p in [ps[i]]]))
        o = {tuple(r[p] for p in parts): [r[f"o{i}"]
                                          for i in range(len(ps))]
             for r in old.collect()}
        # r15: all-NULL groups now match the aggregate (NULL row
        # emitted) — no filtering, full contract equality
        new = bucketed_exact_percentiles(df, parts, col, ps,
                                         out_prefix="n")
        n = {tuple(r[p] for p in parts): [r[f"n{i}"]
                                          for i in range(len(ps))]
             for r in new.collect()}
        assert n == o and o

    def test_fuzz_ties_and_wide_range(self, spark):
        import numpy as np
        rng = np.random.default_rng(127)
        rows = []
        for i in range(2000):
            g = f"g{int(rng.integers(0, 4))}"
            v = (float(rng.choice([1.0, 2.0, 2.0, 3.5]))
                 if rng.random() < 0.4
                 else float(np.round(rng.uniform(-1e6, 1e6), 3)))
            rows.append((g, v))
        df = spark.createDataFrame(rows, "g string, v double")
        self._cmp(df, ["g"], "v", [0.0, 0.25, 0.5, 0.95, 1.0])

    def test_integral_positions_and_tiny_groups(self, spark):
        # n=21 makes p=0.5 land on an integral position (the
        # floor==ceil early return); n=1 and n=2 hit the degenerate
        # window shapes
        rows = ([("e", float(i * i)) for i in range(21)]
                + [("b", 42.0), ("c", 1.0), ("c", 2.0)])
        df = spark.createDataFrame(rows, "g string, v double")
        self._cmp(df, ["g"], "v", [0.5, 0.9])

    def test_null_values_and_null_group_key(self, spark):
        rows = ([(None, float(i)) for i in range(50)]
                + [("x", float(i)) for i in range(30)]
                + [("x", None), (None, None)])
        df = spark.createDataFrame(rows, "g string, v double")
        self._cmp(df, ["g"], "v", [0.5, 0.95])

    def test_all_null_group_emits_null_row(self, spark):
        # r15 (r14 verdict #5): an all-NULL group now gets the same
        # NULL output row the percentile aggregate emits, instead of
        # being silently omitted — the contract delta is closed.
        # p = 1.0 puts an empty group's position at -1, the edge that
        # once located no bucket and dropped the group.
        from data_platform_copilot_spark.operators.layout import (
            bucketed_exact_percentiles)
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 3.0), ("z", None)],
            "g string, v double")
        for pct, a in ((0.5, 2.0), (1.0, 3.0)):
            got = bucketed_exact_percentiles(df, ["g"], "v", [pct],
                                             out_prefix="n").collect()
            assert sorted((r["g"], r["n0"]) for r in got) \
                == [("a", a), ("z", None)], pct

    def test_nan_values_raise(self, spark):
        # r15 (ADVICE): floor(NaN) silently buckets to 0 in non-ANSI
        # mode — NaN input must fail loudly, not corrupt percentiles
        import pytest
        from py4j.protocol import Py4JJavaError

        from data_platform_copilot_spark.operators.layout import (
            bucketed_exact_percentiles)
        df = spark.createDataFrame(
            [("a", 1.0), ("a", float("nan"))], "g string, v double")
        with pytest.raises(Py4JJavaError, match="NaN"):
            bucketed_exact_percentiles(df, ["g"], "v", [0.5],
                                       out_prefix="n").collect()

    def test_requires_part_cols(self, spark):
        import pytest

        from data_platform_copilot_spark.operators.layout import (
            bucketed_exact_percentiles)
        df = spark.createDataFrame([("a", 1.0)], "g string, v double")
        with pytest.raises(ValueError):
            bucketed_exact_percentiles(df, [], "v", [0.5])

    def test_query_entries_match_aggregate_on_lineitem(
            self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        self._cmp(li, ["l_returnflag"], "l_extendedprice",
                  [0.5, 0.95])
