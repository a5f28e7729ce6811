"""Scale-pattern tests: salting equivalence + bucketed-join shuffle
elimination (SCALE.md claims, verified against real plans).

Whole module marked ``slow`` (round-12 verdict item 3): multi-SF
scenario smokes and plan-materializing collects dominate the suite
wall; the default (driver-window) run excludes them -- run the full
suite with ``-m ''``."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow

from etl_on_weather_dataset_spark.operators.skew import (
    salted_aggregate,
    salted_join_small,
)


def _executed_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


class TestSalting:
    def test_salted_aggregate_equals_plain(self, spark):
        # skewed: 90% of rows share one key
        rows = [(("hot" if i % 10 else f"cold{i}"), float(i % 7), i)
                for i in range(1000)]
        df = spark.createDataFrame(rows, "k string, v double, id long")
        plain = {
            r["k"]: (r["n"], r["s"], r["mx"])
            for r in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
                 F.max("v").alias("mx"))
            .collect()
        }
        salted = {
            r["k"]: (r["n"], r["s"], r["mx"])
            for r in salted_aggregate(
                df, ["k"],
                {"n": F.count(F.lit(1)), "s": F.sum("v"),
                 "mx": F.max("v")},
                {"n": F.sum("n"), "s": F.sum("s"), "mx": F.max("mx")},
                salt_on="id", buckets=8,
            ).collect()
        }
        assert salted == plain

    def test_salted_join_equals_plain(self, spark):
        big = spark.createDataFrame(
            [(("hot" if i % 5 else f"k{i}"), i) for i in range(500)],
            "k string, id long",
        )
        small = spark.createDataFrame(
            [("hot", 1), ("k5", 2), ("k10", 3)], "k string, tag int"
        )
        plain = sorted(
            (r["k"], r["id"], r["tag"])
            for r in big.join(small, "k").collect()
        )
        salted = sorted(
            (r["k"], r["id"], r["tag"])
            for r in salted_join_small(
                big, small, on="k", salt_on="id", buckets=4
            ).collect()
        )
        assert salted == plain

    def test_salt_spreads_hot_key(self, spark):
        from etl_on_weather_dataset_spark.operators.skew import (
            SALT_COL,
            with_salt,
        )

        df = spark.createDataFrame(
            [("hot", i) for i in range(200)], "k string, id long"
        )
        n_salts = (
            with_salt(df, 8, "id").select(SALT_COL).distinct().count()
        )
        assert n_salts == 8  # one hot key fans out over all buckets


class TestPlanProperties:
    """Pin the SCALE.md physical-plan claims so they can't silently
    regress: pushdown reaches the scan, scans are column-pruned, dim
    joins broadcast."""

    SF = "/root/testdata/sf0.001"

    def _plan(self, spark, name):
        # all_queries(): plan claims hold regardless of which names the
        # per-round driver-window rotation currently exposes
        from etl_on_weather_dataset_spark.plans.registry import all_queries

        df = all_queries()[name](spark, self.SF)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def test_filter_pushdown_reaches_scan(self, spark):
        plan = self._plan(spark, "pricing_summary")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan

    def test_scan_is_column_pruned(self, spark):
        plan = self._plan(spark, "daily_value_rollup")
        # 6-column events table, query needs only ts+value. The ts
        # physical type varies by testdata generation (nanos-as-long
        # bigint / timestamp_ntz / timestamp) -- the claim under test
        # is the PRUNING, not the encoding.
        import re

        assert re.search(
            r"ReadSchema: struct<ts:(bigint|timestamp(_ntz)?),"
            r"value:double>",
            plan,
        ), plan[plan.find("ReadSchema"):][:200]

    def test_dim_joins_broadcast(self, spark):
        """The FINAL adaptive plan broadcasts every dim: bounded
        nation/region statically (explicit hint), the unhinted
        customer dim via AQE runtime stats -- the static plan shows an
        SMJ for it by design (no forced hint), so assert post-AQE."""
        from etl_on_weather_dataset_spark.plans.registry import all_queries as queries

        df = queries()["regional_revenue"](spark, self.SF)
        df.collect()  # let AQE finalize
        # toString() appends the pre-AQE '== Initial Plan ==' section
        # (which legitimately contains the SMJ) -- examine only the
        # final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in final

    def test_unbounded_dim_broadcast_demotes_above_threshold(self, spark):
        """VERDICT r1: the customer-side dim must not carry a FORCED
        broadcast hint -- with the auto-broadcast threshold off
        (simulating a dim larger than the threshold at high SF) the
        planner must fall back to a shuffled join instead of an
        OOM-bound forced broadcast. Bounded nation/region keep their
        explicit hints and still broadcast."""
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            for q in ("regional_revenue", "profit_by_nation_year",
                      "top_orders_by_revenue"):
                plan = self._plan(spark, q)
                assert "SortMergeJoin" in plan \
                    or "ShuffledHashJoin" in plan, (q, plan[:1500])
            # the spec-bounded dims keep broadcasting via their hints
            plan = self._plan(spark, "regional_revenue")
            assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_topk_uses_window_group_limit(self, spark):
        plan = self._plan(spark, "topk_events_per_user")
        assert "WindowGroupLimit" in plan

    def test_per_key_cap_uses_window_group_limit(self, spark):
        """Domain balancing must pre-trim per map task (cap rows per
        key cross the exchange, not the domain's full row count)."""
        plan = self._plan(spark, "per_source_document_cap")
        assert "WindowGroupLimit" in plan

    def test_boilerplate_set_is_broadcast_anti_join(self, spark):
        """The common-line set is small by construction; cleaning the
        corpus must be a broadcast anti-join, never a shuffled one."""
        plan = self._plan(spark, "boilerplate_line_removal")
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, \
            plan[:1500]

    def test_semdedup_is_cell_scoped_not_all_pairs(self, spark):
        """SemDeDup's pairwise cosine must stay inside Voronoi cells
        (equi-join on cell id), never a corpus-wide cartesian."""
        plan = self._plan(spark, "semdedup_embeddings")
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]

    def test_global_topk_avoids_single_task_sort(self, spark):
        plan = self._plan(spark, "top_orders_by_revenue")
        assert "TakeOrderedAndProject" in plan

    def test_weighted_sample_avoids_global_sort(self, spark):
        """ES top-n must be a per-task partial top-n, never a global
        sort through one task."""
        plan = self._plan(spark, "weighted_sample_docs")
        assert "TakeOrderedAndProject" in plan, plan[:1500]

    def test_embedding_near_dup_is_not_all_pairs(self, spark):
        """The VERDICT r1 scale-killer: dedup_embedding_cosine must be
        the LSH-bucketed equi-join, never an O(n^2) cartesian."""
        plan = self._plan(spark, "dedup_embedding_cosine")
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
        # candidates come from a hash equi-join on (table, bucket)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan

    def test_bm25_topk_is_heap_not_global_sort(self, spark):
        """BM25's top-k must be TakeOrderedAndProject (per-partition
        heaps), and its corpus stats must come back as a broadcast of
        the one-row aggregate, never a shuffled join."""
        plan = self._plan(spark, "bm25_topk_docs")
        assert "TakeOrderedAndProject" in plan, plan[:1500]
        assert "BroadcastNestedLoopJoin" in plan or \
            "BroadcastHashJoin" in plan, plan[:1500]

    def test_span_dedup_never_forms_pairs(self, spark):
        """Exact-substring dedup joins occurrences back to the window
        count -- equi-joins only, no pair cartesian anywhere."""
        for name in ("dup_span_stats", "dup_span_removal"):
            plan = self._plan(spark, name)
            assert "CartesianProduct" not in plan, (name, plan[:2000])
            assert "BroadcastNestedLoopJoin" not in plan, (
                name, plan[:2000])

    def test_classifier_is_single_stage_scan(self, spark):
        """The hashed classifier is a per-row fold: its plan must have
        no exchange at all (one codegen stage over the scan)."""
        plan = self._plan(spark, "doc_quality_classifier")
        assert "Exchange" not in plan, plan[:1500]

    def test_linkage_blocks_via_equi_join(self, spark):
        """Record linkage must block on gram equi-joins; the only
        nested-loop is the broadcast of the one-row totals."""
        plan = self._plan(spark, "record_linkage_summary")
        assert "CartesianProduct" not in plan, plan[:2000]

    def test_funnel_fold_has_no_window_exchange_chain(self, spark):
        """The fold funnel is one shuffle on user + the final 1-row
        aggregate -- never a per-step Window chain."""
        plan = self._plan(spark, "funnel_view_click_purchase")
        assert "Window" not in plan, plan[:1500]
        assert "CartesianProduct" not in plan, plan[:1500]

    def test_hybrid_rrf_is_heap_topk(self, spark):
        """Both retriever legs and the fuse end in TakeOrdered heaps,
        and nothing in the composition is an unblocked cartesian."""
        plan = self._plan(spark, "hybrid_rrf_topk")
        assert "TakeOrderedAndProject" in plan, plan[:1500]
        assert "CartesianProduct" not in plan, plan[:1500]

    def test_profile_is_single_aggregate_job(self, spark):
        """11 profiled columns must compile to ONE aggregate over one
        scan (Expand for the multi-distinct), not per-column jobs."""
        plan = self._plan(spark, "column_profile_lineitem")
        # one scan node (formatted plans repeat the label in the
        # detail section; count the per-scan Location line instead)
        assert plan.count("Location: InMemoryFileIndex") == 1, \
            plan[:2000]
        assert "Expand" in plan  # the exact multi-distinct shape

    def test_minhash_banding_is_equi_join_over_persisted_index(
        self, spark
    ):
        """The round-3 codegen MinHash tier: banded candidates must
        come from an equi-join on (band, minhash) -- never a cartesian
        -- and both the signature scan and the rescore join must read
        the PERSISTED shingle table (InMemoryTableScan), not recompute
        the shingling per consumer."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_lsh_pairs,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        try:
            docs = load_table(spark, self.SF, "documents")
            df = minhash_lsh_pairs(docs, "text", "doc_id",
                                   max_distance=0.8)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert "CartesianProduct" not in plan, plan[:2000]
            assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
            assert "InMemoryTableScan" in plan, plan[:2000]
            assert "xxhash64" in plan  # signatures are codegen exprs
        finally:
            release_all()



    def test_q19_disjunction_pushes_to_both_scans(self, spark):
        """The OR-of-arms predicate must split per-table: the part scan
        gets the brand+size OR projection, the lineitem scan gets the
        quantity OR-envelope -- one fact-table pass, not 3x UNION."""
        plan = self._plan(spark, "disjunctive_brand_revenue")
        scans = plan.split("Scan parquet")
        li_scan = next(s for s in scans if "lineitem.parquet" in s)
        part_scan = next(s for s in scans if "part.parquet" in s)
        assert re.search(r"PushedFilters:.*Or.*l_quantity", li_scan), \
            li_scan[:400]
        assert re.search(r"PushedFilters:.*Or.*p_brand", part_scan), \
            part_scan[:400]
        # exactly one lineitem scan: the disjunction did NOT union
        assert plan.count("lineitem.parquet") == 1

    def test_q10_aggregates_before_dim_join(self, spark):
        """Q10 must reduce the fact table to per-customer rows BEFORE
        joining customer attributes (the 100 TB ordering)."""
        plan = self._plan(spark, "returned_item_customers")
        agg_pos = plan.find("HashAggregate")
        cust_scan = plan.find("customer.parquet")
        assert 0 < agg_pos and 0 < cust_scan
        # the tree prints the join's probe child (the per-customer
        # aggregate subtree) before the build child (customer scan):
        # if the aggregate regressed to run after the dim join, the
        # first HashAggregate would appear after the customer scan
        assert agg_pos < cust_scan, plan[:2000]
        assert "TakeOrderedAndProject" in plan

    def test_graph_queries_have_no_cartesian(self, spark):
        """Triangle/PageRank joins are all equi-joins; the only
        permissible nested-loop is the 1-row summary crossJoin."""
        for name in ("graph_degree_stats", "graph_pagerank_top"):
            plan = self._plan(spark, name)
            assert "CartesianProduct" not in plan, (name, plan[:2000])
            assert "BroadcastNestedLoopJoin" not in plan, (
                name, plan[:2000])
        tri = self._plan(spark, "graph_triangle_summary")
        assert "CartesianProduct" not in tri
        # 1-row x 1-row summary staples are the only BNLJs (formatted
        # explain prints each operator twice: tree line + detail)
        assert tri.count("BroadcastNestedLoopJoin") <= 4

    def test_zscore_is_single_window_pass(self, spark):
        """Rolling z-score: one shuffle on the key, one sort, no join
        (both window sums share a frame)."""
        plan = self._plan(spark, "rolling_zscore_anomalies")
        assert plan.count("Window") <= 2, plan[:1500]
        assert "Join" not in plan, plan[:1500]


class TestAqeSkewJoin:
    def test_aqe_splits_skewed_join_partition(self, spark):
        """SCALE.md: 'AQE splits skewed keys at runtime'. Build a join
        where 95% of the left rows share one key, lower the skew
        thresholds to test scale, and assert the FINAL adaptive plan
        shows the skew-split join. Note: the plan must be read from the
        SAME DataFrame's QueryExecution after collect() -- count()
        spawns a separate execution and the original plan would still
        say isFinalPlan=false."""
        confs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "512k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            left = spark.range(0, 400_000).select(
                F.when(F.col("id") % 20 != 0, F.lit(0))
                .otherwise(F.col("id") % 1000).alias("k"),
                F.substring(
                    F.sha2(F.col("id").cast("string"), 256), 1, 16
                ).alias("pad"),
            )
            right = spark.range(0, 1000).select(
                F.col("id").alias("k"), F.lit("r").alias("tag")
            )
            j = left.join(right, "k")
            rows = j.collect()
            assert len(rows) == 400_000
            plan = j._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestBucketedJoin:
    def test_bucketed_tables_join_without_shuffle(self, spark, tmp_path):
        """SCALE.md: 'bucket both tables by orderkey to eliminate the
        shuffle entirely'. Proven here: the join of two tables bucketed
        on the key has no Exchange above either scan."""
        # (warehouse dir is a static conf; tables land in the default
        # ./spark-warehouse, dropped in the finally block)
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # a killed earlier run can leave the managed location behind
        # with no catalog entry -- saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS; clear both name and location first
        import shutil

        for t in ("bk_a", "bk_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
        try:
            a = spark.range(0, 10_000).select(
                F.col("id").alias("k"), (F.col("id") % 100).alias("va")
            )
            b = spark.range(0, 10_000, 2).select(
                F.col("id").alias("k"), (F.col("id") % 50).alias("vb")
            )
            a.write.mode("overwrite").bucketBy(8, "k").sortBy("k") \
                .saveAsTable("bk_a")
            b.write.mode("overwrite").bucketBy(8, "k").sortBy("k") \
                .saveAsTable("bk_b")
            joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
            plan = _executed_plan(joined)
            assert "Exchange" not in plan, plan
            assert joined.count() == 5_000
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold",
                str(64 * 1024 * 1024),
            )
            spark.sql("DROP TABLE IF EXISTS bk_a")
            spark.sql("DROP TABLE IF EXISTS bk_b")


class TestRuntimeBloomFilter:
    def test_selective_dim_injects_bloom_probe(self, spark):
        """Runtime bloom-filter join (Spark 3.3+): a selective filter
        on the dim side of a SHUFFLE join injects might_contain on the
        fact side, so fact rows that can't join are dropped pre-
        exchange -- the engine-native form of the semi-join pushdown
        the dedup tiers hand-build. Pinned here so a config regression
        (it needs runtime.bloomFilter.enabled) can't silently remove
        the capability at cluster scale (broadcast joins don't need
        it, hence the forced thresholds)."""
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold": "100MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = spark.read.parquet(
                "/root/testdata/sf0.001/lineitem.parquet"
            )
            part = spark.read.parquet(
                "/root/testdata/sf0.001/part.parquet"
            ).filter(F.col("p_size") < 5)
            j = li.join(part, li.l_partkey == part.p_partkey).agg(
                F.sum("l_quantity")
            )
            ex = j._jdf.queryExecution().executedPlan().toString()
            assert "might_contain" in ex, ex[:2000]
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRound5PlanShapes:
    """Plan assertions for the round-5 operators: the scale claims
    in their docstrings, checked against the actual physical plans."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")
        )

    def test_snapshot_diff_is_one_key_join(self, spark):
        """CDC diff: a single full-outer equi-join on the key --
        no cartesian, no nested loop, output filtered before wide
        projection."""
        from etl_on_weather_dataset_spark.operators.merge import (
            snapshot_diff,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        o = load_table(spark, self.SF, "orders")
        from pyspark.sql import functions as F

        new = o.filter(F.col("o_orderkey") % 13 != 0)
        plan = self._plan_of(
            snapshot_diff(o, new, ["o_orderkey"],
                          ["o_orderstatus", "o_totalprice"])
        )
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoop" not in plan, plan[:2000]

    def test_ivf_store_query_probes_cells_not_corpus(self, spark,
                                                     tmp_path):
        """Serving from the IVF store joins probes to cells on the
        cluster id -- an equi-join, never an all-pairs scan."""
        from pyspark.sql import functions as F

        from etl_on_weather_dataset_spark.operators.ann_store import (
            ivf_index_build,
            ivf_index_query,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        emb = load_table(spark, self.SF, "embeddings")
        store = str(tmp_path / "ivf")
        ivf_index_build(spark, emb, store)
        q = ivf_index_query(
            spark, emb.filter(F.col("vec_id") < 5), store, k=3,
            n_probe=2,
        )
        plan = self._plan_of(q)
        assert "CartesianProduct" not in plan, plan[:2000]

    def test_hll_is_single_aggregate(self, spark):
        """HLL registers: one projection + one m-bucket aggregate --
        exactly one exchange, no join of any kind."""
        from etl_on_weather_dataset_spark.operators.bloom import (
            hll_registers,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        import re

        ev = load_table(spark, self.SF, "events")
        plan = self._plan_of(hll_registers(ev, "user_id", m=64))
        # formatted plans print each node twice (tree + detail
        # section); count the detail headers, one per physical node
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, \
            plan[:2000]
        assert "Join" not in plan, plan[:2000]

    def test_audio_near_dup_is_banded_equi_join(self, spark):
        """Fingerprint pairing must block on (band, key) equi-joins --
        the SimHash discipline, never all-pairs over payloads."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            audio_near_dup_pairs,
        )

        fps = spark.createDataFrame(
            [(1, 7), (2, 7), (3, 1 << 40)],
            "doc_id long, fingerprint long",
        )
        plan = self._plan_of(audio_near_dup_pairs(fps))
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoop" not in plan, plan[:2000]


class TestRound6PlanShapes:
    """Plan assertions for the round-6 analytics tier."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")
        )

    def test_histogram_sketch_is_single_aggregate(self, spark):
        """Sketch build: one projection + one (group, bin) aggregate
        -- exactly one exchange, no join (the HLL discipline)."""
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_sketch,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        li = load_table(spark, self.SF, "lineitem")
        plan = self._plan_of(histogram_sketch(
            li, "l_extendedprice", 0, 110_000_000_000, 256,
            group_cols=["l_returnflag"],
        ))
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, \
            plan[:2000]
        assert "Join" not in plan, plan[:2000]

    def test_quantiles_join_constant_relation_only(self, spark):
        """The q_ppm join must be a broadcast NL over the tiny
        constant relation -- never a cartesian over data."""
        from etl_on_weather_dataset_spark.plans.queries_analytics import (
            _quantile_sketch_price,
        )

        plan = self._plan_of(_quantile_sketch_price(spark, self.SF))
        assert "CartesianProduct" not in plan, plan[:2000]

    def test_range_join_is_bucket_explode_not_bnlj(self, spark):
        """Interval overlap: explode to week buckets + aggregate --
        no join node at all (the 100 TB-safe range-join shape)."""
        from etl_on_weather_dataset_spark.plans.queries_analytics import (
            _shipping_window_weekly,
        )

        plan = self._plan_of(_shipping_window_weekly(spark, self.SF))
        assert "Join" not in plan, plan[:2000]
        assert "CartesianProduct" not in plan, plan[:2000]

    def test_ewma_is_one_shuffle_no_join(self, spark):
        """Ordered fold: one groupBy shuffle carrying (ts, id, vm)
        structs; the fold itself is a projection, never a join or a
        second exchange."""
        from etl_on_weather_dataset_spark.plans.queries_analytics import (
            _ewma_user_value,
        )

        plan = self._plan_of(_ewma_user_value(spark, self.SF))
        assert "Join" not in plan, plan[:2000]


class TestEvalPlans:
    def test_auc_window_runs_over_distinct_scores_not_rows(self, spark):
        """binary_eval's only unpartitioned window must consume the
        per-score AGGREGATE (|distinct scores| rows), never the raw
        scored relation -- the property that keeps exact AUC viable
        at corpus scale. Also: no join anywhere in the operator."""
        import re

        from etl_on_weather_dataset_spark.operators.evaluate import (
            binary_eval,
        )

        df = spark.range(5000).selectExpr(
            "CAST(id % 2 AS INT) AS y", "id % 97 AS score"
        )
        out = binary_eval(df)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan[:2000]
        windows = [m.start() for m in re.finditer(r"\bWindow\b", plan)]
        assert len(windows) >= 1, plan[:2000]
        # below (textually after) the window node there must be a
        # hash aggregate keyed on score: the distinct-score rollup
        below = plan[windows[0]:]
        assert re.search(r"HashAggregate.*keys=\[score", below), \
            plan[:3000]


class TestRound6LatePlans:
    """Plan-shape contracts for the late round-6 tier (web curation,
    inference batching, ranking eval, class prototypes)."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_batch_assignment_is_windows_only_no_join(self, spark):
        """Per-doc batch assignment: sort-based windows inside
        (shard, bucket) groups -- no join node, no cartesian, and
        the only exchanges are the window partitionings."""
        import re

        from etl_on_weather_dataset_spark.operators.batching import (
            length_bucketed_batches,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, self.SF, "documents")
        plan = self._plan_of(length_bucketed_batches(docs))
        assert "Join" not in plan, plan[:2000]
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, \
            plan[:2000]

    def test_ranking_metrics_is_two_aggregates_no_join(self, spark):
        """MRR/NDCG: one groupBy(query) + one global row -- the
        discount tables are plan literals, so no join, no window,
        no python."""
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ranking_metrics,
        )

        ranked = spark.range(1000).selectExpr(
            "id % 50 AS query_id",
            "CAST(id % 10 + 1 AS LONG) AS rk",
            "CAST(id % 3 = 0 AS INT) AS rel",
        )
        plan = self._plan_of(ranking_metrics(ranked))
        assert "Join" not in plan, plan[:2000]
        assert "Window" not in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]

    def test_label_prototypes_joins_are_broadcast_only(self, spark):
        """Prototype audit: every join touches the |labels|-row
        centroid relation and must be broadcast -- never a shuffled
        join of the corpus against itself, never a cartesian."""
        import re

        from etl_on_weather_dataset_spark.operators.cluster import (
            label_prototypes,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        emb = load_table(spark, self.SF, "embeddings")
        plan = self._plan_of(label_prototypes(emb))
        assert "CartesianProduct" not in plan, plan[:2000]
        joins = re.findall(r"(\w+Join\w*)", plan)
        assert joins, plan[:1000]
        for j in set(joins):
            assert j.startswith("Broadcast"), (j, plan[:2000])


    def test_web_ingest_flagship_no_cartesian_no_python(self, spark):
        """The composed crawl pipeline: the only joins are the
        broadcast crosses of one-row stage aggregates; nothing
        cartesian, nothing Python, and every window partitions by
        canonical/domain/(shard, bucket) -- no global sort."""
        import re

        from etl_on_weather_dataset_spark.plans.queries_web import (
            _web_ingest_pipeline,
        )

        plan = self._plan_of(_web_ingest_pipeline(spark, self.SF))
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BatchEvalPython" not in plan, plan[:2000]
        for m in re.finditer(r"Window.*partitionBy=\[\]", plan):
            raise AssertionError("unpartitioned window: " + m.group(0))


class TestLateStatsPlans:
    """Plan contracts for the late round-6 statistical tier."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_ks_window_runs_over_distinct_values(self, spark):
        """KS: no join; the cumulative window consumes the per-value
        AGGREGATE (bounded by the value domain), never raw rows."""
        import re

        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_two_sample,
        )

        df = spark.range(5000).selectExpr(
            "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS side",
            "CAST(id % 97 AS DOUBLE) AS value",
        )
        out = ks_two_sample(df, "value", "side", "a", "b")
        plan = self._plan_of(out)
        assert "CartesianProduct" not in plan, plan[:2000]
        windows = [m.start() for m in re.finditer(r"\bWindow\b", plan)]
        assert windows, plan[:2000]
        below = plan[windows[-1]:]
        assert re.search(r"HashAggregate.*keys=\[v", below), plan[:3000]

    def test_wilson_is_one_aggregate_no_join(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            rate_with_wilson,
        )

        df = spark.range(1000).selectExpr(
            "CAST(id % 4 AS STRING) AS g",
            "CAST(id % 7 = 0 AS INT) AS s",
        )
        plan = self._plan_of(rate_with_wilson(df, "s", ["g"]))
        assert "Join" not in plan, plan[:2000]
        assert "Window" not in plan, plan[:2000]

    def test_temperature_plan_joins_broadcast_strata_only(self, spark):
        """Temperature mixture: the per-stratum plan is broadcast
        back for the selection; nothing corpus-sized joins itself."""
        import re

        from etl_on_weather_dataset_spark.operators.sample import (
            temperature_mixture_plan,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, self.SF, "documents")
        plan = self._plan_of(temperature_mixture_plan(docs))
        assert "CartesianProduct" not in plan, plan[:2000]
        for j in set(re.findall(r"(\w+Join\w*)", plan)):
            assert j.startswith("Broadcast"), (j, plan[:2000])

    def test_vocab_growth_window_is_bucket_bounded(self, spark):
        """Heaps curve: the cumulative window consumes the n_buckets
        aggregate, not tokens; no cartesian."""
        import re

        from etl_on_weather_dataset_spark.operators.corpus import (
            vocab_growth_curve,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, self.SF, "documents")
        plan = self._plan_of(vocab_growth_curve(docs))
        assert "CartesianProduct" not in plan, plan[:2000]
        w = plan.find("Window")
        assert w >= 0, plan[:2000]
        assert re.search(r"HashAggregate.*keys=\[bucket",
                         plan[w:]), plan[:3000]


class TestBenchPlansNoCartesian:
    def test_no_cartesian_in_any_bench_plan(self, spark):
        """PLANS.md's headline claim, codified: ZERO cartesian
        products across every statically-plannable bench query.
        Static (pre-AQE) plans via explainString -- nothing executes.
        (BNLJ against one-row broadcast constant relations is allowed
        and audited separately; CartesianProduct is never.)"""
        import os
        import sys

        sys.path.insert(
            0,
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(
                    __file__))),
                "tools",
            ),
        )
        from plan_audit import audit_plan

        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.plans.registry import (
            audit_specs,
        )

        mode = (
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        sf = "/root/testdata/sf0.001"
        offenders, audited = [], 0
        for name, spec in sorted(audit_specs().items()):
            try:
                if spec.plan_fn is not None:
                    # scenario query: audit the UNEXECUTED inner
                    # probe/merge/verify plans, not the one-row
                    # summary frame (round-8 verdict item 3)
                    dfs = spec.plan_fn(spark, sf).items()
                else:
                    dfs = [(name, spec.spark_fn(spark, sf))]
                plans = [
                    (lbl, df._jdf.queryExecution().explainString(mode))
                    for lbl, df in dfs
                ]
            except Exception:
                continue  # scenario queries needing side dirs
            finally:
                release_all()
            audited += 1
            for lbl, plan in plans:
                if audit_plan(plan)["cartesian"]:
                    offenders.append(f"{name}:{lbl}")
        assert not offenders, offenders
        assert audited >= 40  # the audit actually covered the set


class TestRound8PlanShapes:
    """Plan assertions for the round-8 training-data-plane operators:
    the scale claims in their docstrings, checked against the live
    physical plan (same discipline as every class above)."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")
        )

    def test_preference_pairs_is_one_aggregate_no_window(self, spark):
        """Chosen/rejected via struct MIN/MAX must compile to ONE
        partial+final aggregate pair over one scan -- no Window node,
        no join, exactly one shuffle."""
        from etl_on_weather_dataset_spark.operators.preference import (
            preference_pairs,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        ev = load_table(spark, self.SF, "events")
        plan = self._plan_of(
            preference_pairs(
                ev, ["user_id", "event_type"], "event_id", "value"
            )
        )
        import re

        assert "Window" not in plan, plan[:2000]
        assert "Join" not in plan, plan[:2000]
        # formatted plans name each node twice (tree + detail);
        # count detail labels for physical node counts
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, \
            plan[:2000]
        # map-side combine: a partial aggregate BEFORE the exchange
        # (struct min/max compiles to SortAggregate, not Hash)
        assert "partial_max" in plan and "partial_min" in plan, \
            plan[:2000]
        assert len(
            re.findall(r"\(\d+\) (?:Hash|Sort)Aggregate", plan)
        ) >= 2, plan[:2000]

    def test_epoch_shuffle_manifest_has_no_global_sort(self, spark):
        """The per-epoch order fingerprint must come from bucketed
        aggregation -- no global Sort over the row-grain relation
        (the loader reads buckets in order; nothing materializes a
        total order)."""
        import re

        from etl_on_weather_dataset_spark.operators.sample import (
            epoch_shuffle_manifest,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, self.SF, "documents")
        plan = self._plan_of(
            epoch_shuffle_manifest(docs, "doc_id", epochs=2,
                                   n_buckets=16)
        )
        # no Sort node at all: array_sort inside the aggregate is an
        # expression, not a physical Sort operator
        assert not re.search(r"\(\d+\) Sort\b", plan), plan[:2000]
        assert "Window" not in plan, plan[:2000]

    def test_mixture_epoch_plan_stays_strata_sized(self, spark):
        """Pure per-row expressions over the already-aggregated strata
        relation: no join, no window, no shuffle introduced by the
        planner beyond reading the input."""
        from etl_on_weather_dataset_spark.operators.sample import (
            mixture_epoch_plan,
        )

        strata = spark.createDataFrame(
            [("a", 1000, 300_000), ("b", 500, 700_000)],
            "stratum string, n_tokens long, target_ppm long",
        )
        plan = self._plan_of(mixture_epoch_plan(strata, 10_000))
        assert "Exchange" not in plan, plan[:2000]
        assert "Join" not in plan, plan[:2000]

    def test_packed_spans_groups_without_extra_exchange(self, spark):
        """packed_attention_spans adds ONE groupBy over pack_sequences
        output; the bin key contains the shard, so no second
        row-grain exchange beyond the packer's own shard window is
        required by the aggregate."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            pack_sequences,
            packed_attention_spans,
        )

        chunks = spark.createDataFrame(
            [(i, 0, 10 + i % 5) for i in range(100)],
            "doc_id long, chunk_id long, n_tokens int",
        )
        packed = pack_sequences(chunks, capacity=100, n_shards=4)
        plan = self._plan_of(packed_attention_spans(packed, 100))
        import re

        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        # shard window + one aggregate exchange, nothing more
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, \
            plan[:2000]

    def test_negative_sampler_trims_pool_mapside(self, spark):
        """sample_negatives: the pool trim (row_number <= k+1 per
        bucket) must compile to WindowGroupLimit so the exchange
        carries O(k x buckets) rows, and the query-candidate join is
        an equi-join on the bucket -- never query x pool."""
        from etl_on_weather_dataset_spark.operators.retrieval import (
            sample_negatives,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, self.SF, "documents")
        qs = docs.limit(50).select(
            docs.doc_id.alias("query_id"),
            docs.doc_id.alias("positive_id"),
        )
        plan = self._plan_of(
            sample_negatives(qs, docs.select("doc_id"), k=4)
        )
        assert "WindowGroupLimit" in plan, plan[:2000]
        assert "CartesianProduct" not in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


class TestRound9PlanShapes:
    """Plan assertions for the round-9 extension tier."""

    SF = "/root/testdata/sf0.001"

    def _plan_of(self, df):
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")
        )

    def test_attribution_is_window_not_join(self, spark):
        """last_touch_attribution must compile to ONE window pass on
        user (plus the tiny channel rollup) -- never the touches x
        conversions join the oracle runs; the event-type filter must
        reach the parquet scan."""
        from etl_on_weather_dataset_spark.operators.funnel import (
            last_touch_attribution,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        ev = load_table(spark, self.SF, "events")
        plan = self._plan_of(last_touch_attribution(ev))
        assert "Join" not in plan, plan[:2000]
        assert plan.count("(1) Scan parquet") == 1
        assert "PushedFilters: [In(event_type" in plan, plan[:2000]
        import re

        # user shuffle + partial/final channel agg: <= 2 exchanges
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, \
            plan[:2000]
