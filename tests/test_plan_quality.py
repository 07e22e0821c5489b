"""Physical-plan assertions: the optimizations we design for must
actually appear in the plan (predicate pushdown, column pruning,
broadcast joins, partial aggregation, TakeOrderedAndProject).
These guard the 100 TB design properties at any scale."""

from __future__ import annotations

import pytest

from data_platform_copilot_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")


class TestPushdownAndPruning:
    def test_filter_reaches_parquet_scan(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "filter_conjunctive")
        assert "PushedFilters:" in plan
        # value and event_type predicates push down to the scan
        assert "GreaterThan(value,50.0)" in plan
        assert "EqualTo(event_type,click)" in plan

    def test_column_pruning_projection(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "projection_alias")
        # ReadSchema must carry only the 3 selected customer columns
        read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "c_custkey" in read and "c_acctbal" in read
        assert "c_mktsegment" not in read and "c_nationkey" not in read

    def test_flagship_prunes_and_pushes_date_range(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "flagship_revenue_by_nation")
        assert "PushedFilters:" in plan
        assert "IsNotNull(o_custkey)" in plan or "GreaterThanOrEqual" in plan
        read = [ln for ln in plan.splitlines()
                if "ReadSchema" in ln and "orders" not in ln]
        assert read  # scans exist with pruned schemas


class TestJoinStrategies:
    def test_flagship_broadcasts_nation(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "flagship_revenue_by_nation")
        assert "BroadcastHashJoin" in plan

    def test_semi_and_anti_join_operators(self, spark, sf_dir):
        semi = plan_of(spark, sf_dir, "semi_join_customers_with_orders")
        anti = plan_of(spark, sf_dir, "anti_join_customers_without_orders")
        assert "LeftSemi" in semi
        assert "LeftAnti" in anti


class TestAggregationShapes:
    def test_tpch_q1_partial_aggregation(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q1_pricing_summary")
        # two HashAggregate nodes: partial (map-side) + final
        assert plan.count("HashAggregate") >= 2
        assert "partial_sum" in plan  # map-side combine before the exchange
        # the shipdate filter pushes down AND is pruned out of the agg input
        assert "LessThanOrEqual(l_shipdate" in plan

    def test_topk_is_take_ordered(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "topk_orderby_alias")
        assert "TakeOrderedAndProject" in plan  # no global sort for top-k

    def test_limit_capped_query_collectlimit(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "limit_injection")
        assert "CollectLimit" in plan or "GlobalLimit" in plan


class TestNoPythonInHotPath:
    @pytest.mark.parametrize("name", [
        "text_quality_score", "text_lang_id", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "tpch_q1_pricing_summary",
        "sessionization_gaps",
    ])
    def test_no_python_udf_nodes(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF
        assert "PythonUDF" not in plan

    def test_embedding_dedup_is_arrow_batched(self, spark, sf_dir):
        # the one intentional Python stage must be Arrow (cogrouped
        # applyInPandas block-gemm), never row-at-a-time
        plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
        assert "FlatMapCoGroupsInPandas" in plan
        assert "BatchEvalPython" not in plan

    def test_embedding_lsh_plan_is_pure_lazy(self, spark, sf_dir):
        """dedup_embedding_lsh's plan must be pure-lazy — no
        InMemoryRelation, no checkpoint RDD scan — so a fresh build
        runs the full tag + shuffle + gemm pipeline from the inputs."""
        df1 = QUERIES["dedup_embedding_lsh"](spark, sf_dir)
        plan = df1._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df1._jdf.queryExecution(), "formatted")
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan
        assert "Scan ExistingRDD" not in plan  # no checkpoint reuse
        assert df1.storageLevel.useMemory is False
        assert df1.storageLevel.useDisk is False

    def test_embedding_dedup_never_collects_to_driver(self, spark, sf_dir,
                                                      monkeypatch):
        # Building the blocked all-pairs plan must be fully lazy: no
        # driver-side collect() and no sc.broadcast of a materialized
        # matrix anywhere in its construction (the r1 anti-pattern).
        # patch the CLASSIC class: pyspark.sql.DataFrame is the
        # abstract base and classic sessions override collect()
        from pyspark.sql.classic.dataframe import DataFrame
        from data_platform_copilot_spark.operators.dedup import (
            embedding_near_duplicates)
        from data_platform_copilot_spark.sources.registry import load_table

        def _boom(*a, **k):
            raise AssertionError("driver-side materialization in plan build")

        emb = load_table(spark, sf_dir, "embeddings")
        monkeypatch.setattr(DataFrame, "collect", _boom)
        monkeypatch.setattr(DataFrame, "toPandas", _boom)
        monkeypatch.setattr(spark.sparkContext, "broadcast", _boom)
        for method in ("blocked", "lsh"):
            df = embedding_near_duplicates(
                emb, "vec_id", "embedding", threshold=0.9, method=method)
            df.explain(mode="cost")  # force analysis + optimization, no exec


class TestPipelineOperatorShapes:
    """The r2 training-pipeline operators must keep their designed
    shuffle budgets (keyed exchanges = hashpartitioning)."""

    def test_chunking_has_no_keyed_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "doc_chunking")
        assert "hashpartitioning" not in plan  # pure map + explode

    def test_repetition_signals_two_keyed_shuffles(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "text_repetition_signals")
        # groupBy(id, kind, gram) + groupBy(id) — nothing else
        assert plan.count("hashpartitioning") == 2

    def test_packing_single_keyed_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "chunk_packing")
        assert plan.count("hashpartitioning") == 1  # the shard window

    def test_winnowing_is_shuffle_free_in_row(self, spark, sf_dir):
        """r14: winnowing is per-document, so the whole selection runs
        in-row — no keyed exchange, no Window exec — and the explode
        must NOT have leaked an InferFiltersFromGenerate filter whose
        pushdown re-inlines the gram pipeline below the spread
        exchange (the md5 chain then re-evaluates per window element
        on one pre-spread task; measured 13 s vs 0.3 s at sf0.01)."""
        plan = plan_of(spark, sf_dir, "dedup_winnowing_fingerprints")
        assert "hashpartitioning" not in plan
        assert "Window" not in plan
        head, _, _ = plan.partition("RoundRobinPartitioning")
        assert "md5" not in head  # nothing heavy below the spread


class TestSelectionOperatorShapes:
    def test_dsir_two_keyed_shuffles_and_broadcast_scoring(self, spark, sf_dir):
        """DSIR: bucket-distribution combine + final per-doc combine
        only; the scored bucket table must broadcast (64 rows), never
        shuffle the gram stream against it."""
        plan = plan_of(spark, sf_dir, "dsir_importance_resample")
        assert plan.count("hashpartitioning") == 2
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_unigram_logprob_three_keyed_shuffles(self, spark, sf_dir):
        """(id, tok) combine + vocab combine + final id combine; the
        scalar total comes from the flat token stream (no second vocab
        build)."""
        plan = plan_of(spark, sf_dir, "unigram_logprob_score")
        assert plan.count("hashpartitioning") == 3

    def test_bm25_doclen_never_explodes_or_shuffles(self, spark, sf_dir):
        """Doc lengths are a size() expression — the only exploded
        lineage is pre-filtered to the query terms, and the scored
        side joins term stats by broadcast."""
        plan = plan_of(spark, sf_dir, "bm25_topk_docs")
        assert plan.count("hashpartitioning") == 4
        assert "BroadcastExchange" in plan


class TestSubstringOps:
    def test_decontamination_eval_side_broadcasts(self, spark, sf_dir):
        """The eval gram set is benchmark-sized: both the anchor join
        and the chaining join must broadcast it (the corpus gram
        stream never shuffles against the eval set), and the whole
        operator stays JVM-side."""
        plan = plan_of(spark, sf_dir, "decontamination_substring")
        assert plan.count("BroadcastHashJoin") >= 2
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_pair_dedup_no_cartesian_and_reuses_gram_stream(self, spark,
                                                           sf_dir):
        """Corpus x corpus chaining joins key on the gram fingerprint
        (SortMergeJoin at scale) — never a cartesian product; the
        shared gram subtree must be reused, not recomputed per arm."""
        plan = plan_of(spark, sf_dir, "dedup_substring_pairs")
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ReusedExchange" in plan


class TestAnalyticsShapes:
    def test_funnel_single_user_keyed_exchange(self, spark, sf_dir):
        """The funnel aggregates all step arrays in ONE groupBy(user):
        exactly one data-sized keyed exchange, no per-step joins."""
        plan = plan_of(spark, sf_dir, "funnel_view_click_purchase")
        import re
        keyed = re.findall(r"hashpartitioning\((\w+)", plan)
        assert keyed.count("user_id") == 1
        assert "SortMergeJoin" not in plan

    def test_histogram_two_scans_one_combine(self, spark, sf_dir):
        """Equi-width histogram: min/max via a broadcast 1-row agg and
        one bin-keyed combine — no join beyond the scalar broadcast."""
        plan = plan_of(spark, sf_dir, "dq_value_histogram")
        assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds attach
        assert plan.count("SortMergeJoin") == 0

    def test_retention_matrix_no_event_rescan_for_sizes(self, spark,
                                                        sf_dir):
        """Cohort sizes come from the weeks_since=0 grid cell (window
        over the tiny grid), so the events relation appears exactly
        twice (firsts + actives), not a third time."""
        plan = plan_of(spark, sf_dir, "cohort_retention_matrix")
        assert plan.count("events.parquet") <= 2 or \
            plan.count("Scan parquet") <= 2


class TestLateR6PlanShapes:
    def test_knn_join_no_distinct_exchange(self, spark, sf_dir):
        # first-colliding-table rule: candidate union must reach the
        # window WITHOUT a dropDuplicates (HashAggregate over pair
        # keys) between the joins and the rank; buckets join as
        # EQUI-joins (hash strategy is stats-driven: broadcast at this
        # tiny SF, shuffle hash/SMJ at scale), never nested-loop
        plan = plan_of(spark, sf_dir, "knn_join_graph")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashAggregate" not in plan  # no distinct/dedup stage
        assert "Window" in plan  # rank-k per query, not a global sort

    def test_heavy_hitters_no_vocab_shuffle(self, spark, sf_dir):
        # the only keyed aggregate exchange is over CANDIDATE tokens
        # (post-broadcast-join); the raw token stream itself feeds the
        # MG sketch via MapInPandas and a 1-row count only
        plan = plan_of(spark, sf_dir, "heavy_hitter_tokens")
        assert "MapInPandas" in plan
        assert "BroadcastExchange" in plan  # candidates + total
        assert "BatchEvalPython" not in plan

    def test_heavy_hitters_single_corpus_tokenization(self, spark, sf_dir):
        # r7 fusion: the MG pass ALSO emits per-partition token
        # totals, so the corpus total no longer costs its own
        # tokenize+count subtree. The only remaining looks at the
        # token stream are the MG pass and the exact recount (the
        # two-phase floor), and both read ONE shared materialized
        # stream (localCheckpoint on local masters) — the plan must
        # show exactly one parquet scan of documents.
        plan = plan_of(spark, sf_dir, "heavy_hitter_tokens")
        doc_scans = [ln for ln in plan.splitlines()
                     if "Scan parquet" in ln and "documents" in ln]
        assert len(doc_scans) <= 1, plan

    def test_curation_funnel_shares_survivor_frames(self, spark, sf_dir):
        # r7: the funnel's post-filter survivor frames (s1, s2) are
        # materialized once and shared by every downstream stage —
        # without the sharing the composed DAG re-derived the
        # documents scan 20x across the five stage counts
        plan = plan_of(spark, sf_dir, "pipeline_curation_funnel")
        assert plan.count("Scan parquet") <= 8, plan

    def test_zorder_is_pure_codegen(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "zorder_layout_report")
        assert "MapInPandas" not in plan
        assert "BatchEvalPython" not in plan
        assert "codegen id" in plan  # interleave folds into codegen

    def test_trend_single_exchange(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "trend_slope_by_event_type")
        assert plan.count("hashpartitioning") == 1
        assert "partial" in plan.lower()  # map-side combine

    def test_tfidf_windowgrouplimit(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tfidf_keywords_per_doc")
        assert "WindowGroupLimit" in plan

    @pytest.mark.parametrize("name,marker", [
        ("sessionization_gaps", "__kc"),
        ("event_transition_matrix", "__kc"),
        ("attribution_last_touch", "__kc"),
        ("session_depth_histogram", "__kc"),
        ("window_rank_topk_per_group", "__salt"),
        ("window_distribution_funcs", "__pb"),
        ("ccnet_perplexity_buckets", "__pb"),
        ("compression_ratio_quality", "__pb"),
    ])
    def test_declared_window_entries_are_two_phase(self, spark, sf_dir,
                                                   name, marker):
        # r15 (r14 verdict #1): every DECLARED window-family entry now
        # runs its whale-proof two-phase plan — chunked windows
        # (__kc), salted top-k (__salt), or range-bucketed global
        # ranks (__pb) — instead of a one-window plan whose whale key
        # serializes a single task (AQE cannot split a window
        # partition). The twins pin result equivalence; this pins the
        # declared entries' plan shape.
        plan = plan_of(spark, sf_dir, name)
        assert marker in plan, f"{name}: expected {marker} in plan"

    def test_ewma_declared_entry_is_chunked(self, spark, sf_dir):
        # r15: the declared entry runs the whale-proof chunked-frame
        # plan (r14 verdict #1) — every full-data window partitions by
        # the (user, day-chunk) struct, never by user_id alone, so a
        # bot user can no longer serialize one task; the weighted fold
        # stays expression-only
        plan = plan_of(spark, sf_dir, "ewma_value_per_user")
        assert "hashpartitioning(__kc" in plan
        assert "hashpartitioning(user_id" not in plan
        assert "BatchEvalPython" not in plan

    def test_ngram_diversity_one_explode_no_expand(self, spark, sf_dir):
        # all three gram widths ride ONE tagged explode; distinct
        # counting is the two-level agg, so no countDistinct Expand
        # doubles the exploded stream
        plan = plan_of(spark, sf_dir, "ngram_diversity_by_source")
        assert plan.count("Scan parquet") <= 2, plan
        assert "Expand" not in plan
        assert "BatchEvalPython" not in plan

    def test_domain_js_corpus_touched_once(self, spark, sf_dir):
        # the per-source distribution is materialized before fanning
        # out to both pair sides: the pair joins read the checkpointed
        # vocab-sized frame, never the parquet corpus again
        plan = plan_of(spark, sf_dir, "domain_unigram_js")
        assert plan.count("Scan parquet") == 0, plan

    def test_calibration_bins_histogram_method(self, spark, sf_dir):
        # one keyed exchange (the per-score combine); the windows run
        # over |distinct score values| rows, never a per-row rank
        plan = plan_of(spark, sf_dir, "quality_calibration_bins")
        assert plan.count("hashpartitioning") == 1, plan
        assert "BatchEvalPython" not in plan

    def test_training_order_broadcasts_shares(self, spark, sf_dir):
        # the |sources|-row share dim joins broadcast; the only wide
        # stages are the two order-producing sorts
        plan = plan_of(spark, sf_dir, "training_order_interleave")
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan


class TestBloomRuntimeFilterJoin:
    def test_probe_is_broadcast_semi_chain(self, spark, sf_dir):
        """The k=3 Bloom probe must run as map-side BroadcastHashJoin
        LeftSemi operators (no explode of the fact table, no shuffle
        before the pruned join)."""
        plan = plan_of(spark, sf_dir, "bloom_runtime_filter_join")
        import re
        semis = re.findall(r"BroadcastHashJoin LeftSemi", plan)
        assert len(semis) >= 3
        assert "Generate" not in plan  # no explode on the fact side


class TestGlobalWindowAudit:
    """Every unpartitioned window (``W.orderBy`` with no
    ``partitionBy``) forces a single-task sort of its input frame, so
    each site must be over a BOUNDED frame (an aggregate whose row
    count does not grow with the corpus: days, months, bins, rounded-
    score histograms, top-k) or a documented TOTAL-ORDER operator
    (order-defining exports and rank statistics, where one global
    range-sort IS the semantics — the TeraSort shape). This audit
    pins the per-file site counts; adding a global window without
    classifying it here fails the test. Current classification
    (r8 sweep, VERDICT r7 item 7):

    - operators/sampling.py (1): largest-remainder rank over
      |groups| rows — bounded.
    - operators/selection.py (2): Misra-Gries heavy-hitter table,
      O(1/phi) rows — bounded; pareto_frontier_2d's exclusive
      prefix-max over the n_buckets-row (64) DESC bucket summary
      (r14, same bucketed-prefix pattern as layout.bucket_offsets)
      — bounded by construction.
    - operators/layout.py (1, r12): bucket_offsets exclusive cumsum
      over the B-row per-bucket subtotal frame of the shared
      two-phase prefix pattern — bounded by construction.
    - operators/similarity.py (1, r14): margin_topk's final rank
      window runs over the m survivors of a TakeOrderedAndProject
      (global top-m, default 20) — bounded by construction, same
      pattern as null_ordering's kept-5 rank.
    - queries/dq.py (6): KS CDF over distinct rounded values
      (bounded histogram); Gini + Pareto + Mann-Whitney cumulatives
      over distinct-value histograms (r12 value-histogram rewrites —
      bounded by value cardinality, no longer per-user/per-row
      ranks); calibration-bin cumulative (bounded bins).
    - queries/extras2.py (2): month-window cumulative (bounded);
      null_ordering rank over a TakeOrdered top-5 (bounded by
      construction — see its docstring).
    - queries/quality.py (1): padding_waste batching — total-order
      export (docstring; output_shard_plan moved to the two-phase
      layout helper in r12).
    - queries/relational.py (3): month cumulative/lag (bounded);
      range-partition histogram over a 5% key sample (bounded
      sample).
    - queries/sampling.py (2): largest-remainder apportionment —
      per-source bounded (the interleave position is the two-phase
      layout helper since r12).
    - queries/text.py (5): zipf vocab rank (vocab combine, top-100
      kept), score-histogram cumulatives incl. the conformal
      entry's <=10^4-row rounded-score frame (bounded).
    - queries/timeseries.py (12): day/hour-indexed aggregates —
      bounded by the calendar.
    - sources/sinks.py (0 since r12): the token-balanced shard
      writers now use the two-phase layout helper — their only
      unpartitioned window is bucket_offsets' 64-row subtotal frame,
      counted under operators/layout.py.
    """

    EXPECTED = {
        "operators/sampling.py": 1,
        "operators/selection.py": 2,
        "operators/layout.py": 1,
        "operators/similarity.py": 1,
        "queries/dq.py": 6,
        "queries/extras2.py": 2,
        "queries/quality.py": 1,
        "queries/relational.py": 3,
        "queries/sampling.py": 2,
        "queries/text.py": 5,
        "queries/timeseries.py": 12,
    }

    def test_no_unclassified_global_windows(self):
        import re
        from pathlib import Path

        pkg = Path(__file__).resolve().parent.parent / (
            "data_platform_copilot_spark")
        pat = re.compile(r"\bW(?:indow)?\.orderBy\(")
        found: dict[str, int] = {}
        for p in pkg.rglob("*.py"):
            for line in p.read_text().splitlines():
                if pat.search(line) and "partitionBy" not in line:
                    rel = str(p.relative_to(pkg))
                    found[rel] = found.get(rel, 0) + 1
        assert found == self.EXPECTED, (
            "global-window sites changed — classify the new/removed "
            f"site in TestGlobalWindowAudit: {found}")

    def test_null_ordering_topk_is_distributed(self, spark, sf_dir):
        """null_ordering's corpus-scale sort must be the distributed
        TakeOrderedAndProject, with the window only over the kept 5."""
        from data_platform_copilot_spark.queries import QUERIES
        plan = QUERIES["null_ordering"](
            spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
