"""Scale-pattern verification: range-join strategies agree, bucketed
tables co-locate joins (no exchange), AQE coalesces shuffles."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from data_platform_copilot_spark.operators.rangejoin import range_join
from data_platform_copilot_spark.sources import load_table


class TestRangeJoin:
    def test_broadcast_and_bucketize_agree(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
        bands = spark.createDataFrame(
            [("lo", 0.0, 30000.0), ("hi", 30000.0, 1e9)],
            "band string, lo double, hi double")
        a = (range_join(li, "l_extendedprice", bands, "lo", "hi",
                        method="broadcast")
             .groupBy("band").count().collect())
        b = (range_join(li, "l_extendedprice", bands, "lo", "hi",
                        method="bucketize", bucket_width=10000.0)
             .groupBy("band").count().collect())
        assert {(r["band"], r["count"]) for r in a} == \
               {(r["band"], r["count"]) for r in b}

    def test_overlapping_intervals_multiply(self, spark):
        facts = spark.createDataFrame([(5.0,), (15.0,)], "v double")
        iv = spark.createDataFrame(
            [("a", 0.0, 10.0), ("b", 0.0, 20.0)],
            "name string, lo double, hi double")
        out = range_join(facts, "v", iv, "lo", "hi").collect()
        # 5.0 matches both intervals, 15.0 only 'b'
        assert len(out) == 3


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, sf_dir):
        """Bucketing both sides on the join key removes the shuffle —
        the co-located join pattern for repeated large joins."""
        suffix = uuid.uuid4().hex[:8]
        o_tbl, c_tbl = f"orders_b_{suffix}", f"customer_b_{suffix}"
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        customer = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name")
        try:
            (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
             .saveAsTable(o_tbl))
            (customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
             .saveAsTable(c_tbl))
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = spark.table(o_tbl).join(
                    spark.table(c_tbl),
                    F.col("o_custkey") == F.col("c_custkey"))
                plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    joined._jdf.queryExecution(), "formatted")
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan, "bucketed join still shuffles"
                # and it is correct
                n = joined.count()
                plain = orders.join(
                    customer, orders.o_custkey == customer.c_custkey).count()
                assert n == plain
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               str(64 * 1024 * 1024))
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
            spark.sql(f"DROP TABLE IF EXISTS {c_tbl}")


class TestAqe:
    def test_aqe_policy_is_master_conditional(self, spark, sf_dir):
        """AQE defaults off for local masters (per-stage job barriers
        dominate on warm MB-scale data) and on for cluster masters
        (runtime coalesce/skew re-planning); SPARK_GRAFT_AQE
        overrides. The small groupBy must stay correct either way."""
        import os
        nation = load_table(spark, sf_dir, "nation")
        out = nation.groupBy("n_regionkey").count()
        assert out.count() == 5
        expected = os.environ.get(
            "SPARK_GRAFT_AQE",
            "false" if spark.conf.get("spark.master").startswith("local")
            else "true")
        assert spark.conf.get("spark.sql.adaptive.enabled") == expected


class TestTrainingShardExport:
    def test_roundtrip_layout_and_order(self, spark, sf_dir, tmp_path):
        """Export writes one directory per shard with rows readable in
        packing order (bin, token_offset) per shard, content-equal to
        the in-memory packing."""
        from data_platform_copilot_spark.operators.quality import (
            chunk_documents,
            pack_chunks,
        )
        from data_platform_copilot_spark.sources.sinks import (
            export_training_shards,
        )

        docs = load_table(spark, sf_dir, "documents")
        ch = chunk_documents(docs, "doc_id", "text",
                             chunk_tokens=32, overlap=8)
        packed = pack_chunks(ch, "id", "chunk_idx", "n_tokens",
                             capacity=512, shards=4)
        out = str(tmp_path / "shards")
        export_training_shards(packed, out)
        back = spark.read.parquet(out)
        assert back.count() == packed.count()
        # partition dirs exist per shard
        import os
        dirs = {d for d in os.listdir(out) if d.startswith("shard=")}
        assert dirs == {f"shard={s}" for s in range(4)}
        # within each shard file, rows come back in packing order
        for s in range(4):
            rows = spark.read.parquet(f"{out}/shard={s}").collect()
            key = [(r["bin"], r["token_offset"]) for r in rows]
            assert key == sorted(key)
        # content equality (set-wise)
        a = {tuple(r) for r in packed.drop("shard").collect()}
        b = {tuple(r) for r in back.drop("shard").collect()}
        assert a == b


class TestConcurrentQueries:
    def test_parallel_actions_one_session(self, spark, sf_dir):
        """Two registry queries executing concurrently from separate
        threads on the ONE shared session must both return correct
        results — the FAIR-scheduler-ready concurrency contract of a
        long-lived analytics session (plan building and job submission
        are GIL/JVM-safe; nothing is session-mutating per query)."""
        from concurrent.futures import ThreadPoolExecutor
        from data_platform_copilot_spark.queries import QUERIES

        def run(name):
            return {tuple(r) for r in
                    QUERIES[name](spark, sf_dir).collect()}

        names = ["flagship_revenue_by_nation", "tpch_q1_pricing_summary"]
        serial = [run(n) for n in names]
        with ThreadPoolExecutor(max_workers=2) as ex:
            parallel = list(ex.map(run, names))
        assert parallel == serial
