"""Physical-plan audits: assert the *plan*, not just the result.

The 100 TB design claims (SURVEY §4, north star) are machine-checked
here: filters reach the parquet scan as PushedFilters, projections
prune ReadSchema, dim joins broadcast instead of shuffling, top-k per
group is a single hash Exchange. A regression that silently flips a
broadcast join to sort-merge or de-pushes a filter fails these tests
long before a benchmark shows it.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from dlt_salesforce_iceberg_rest_demo_spark.plans import REGISTRY, query_fns
from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

from .conftest import SF_DIR


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module", autouse=True)
def _load_registry():
    query_fns()


class TestPushdown:
    def test_filter_pushed_to_parquet_scan(self, spark):
        df = REGISTRY["agg_pricing_summary"].spark(spark, SF_DIR)
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_projection_prunes_read_schema(self, spark):
        df = REGISTRY["scan_projection"].spark(spark, SF_DIR)
        plan = plan_of(df)
        assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>" in plan

    def test_unused_columns_never_read(self, spark):
        # flagship: lineitem has 11 columns; only 3 should be scanned
        df = REGISTRY["flagship_revenue_by_region"].spark(spark, SF_DIR)
        plan = plan_of(df)
        li_schema = [
            line for line in plan.splitlines() if "ReadSchema" in line and "l_orderkey" in line
        ]
        assert li_schema, "lineitem scan not found"
        assert "l_extendedprice" in li_schema[0] and "l_discount" in li_schema[0]
        assert "l_comment" not in li_schema[0] and "l_shipdate" not in li_schema[0]

    def test_limit_becomes_take_ordered(self, spark):
        plan = plan_of(REGISTRY["sort_limit_top_events"].spark(spark, SF_DIR))
        # ORDER BY + LIMIT must not be a global sort: per-partition top-k
        assert "TakeOrderedAndProject" in plan


class TestJoinStrategy:
    def test_flagship_dims_broadcast(self, spark):
        plan = plan_of(REGISTRY["flagship_revenue_by_region"].spark(spark, SF_DIR))
        # customer, nation, region all broadcast: fact side never
        # shuffles for dim hops
        assert plan.count("BroadcastHashJoin") >= 3

    def test_merge_upsert_anti_join_broadcasts(self, spark):
        plan = plan_of(REGISTRY["merge_upsert_semantics"].spark(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_semi_join_stays_semi(self, spark):
        plan = plan_of(REGISTRY["join_semi_customers_with_orders"].spark(spark, SF_DIR))
        assert "LeftSemi" in plan


class TestShuffleShape:
    def test_topk_per_group_single_exchange_with_group_limit(self, spark):
        plan = plan_of(
            REGISTRY["window_topk_orders_per_customer"].spark(spark, SF_DIR), "simple"
        )
        # one hash partitioning on the group key...
        assert plan.count("Exchange hashpartitioning(o_custkey") == 1
        # ...and the rank<=3 filter is pushed into a pre-shuffle partial
        # top-k (WindowGroupLimit): only 3 rows/group/partition shuffle
        assert "WindowGroupLimit" in plan

    def test_sample_topk_per_key_group_limit_and_cm_fanin(self, spark):
        plan = plan_of(REGISTRY["sample_topk_per_key"].spark(spark, SF_DIR), "simple")
        # per-key sample keeps only 3 rows/key/partition pre-shuffle
        assert "WindowGroupLimit" in plan
        cm = plan_of(REGISTRY["sketch_count_min_users"].spark(spark, SF_DIR), "simple")
        # the sketch side is broadcast into the lookup join
        assert "BroadcastHashJoin" in cm

    def test_sessionize_reuses_one_shuffle(self, spark):
        plan = plan_of(REGISTRY["sessionize_events"].spark(spark, SF_DIR), "simple")
        # both window passes + final agg ride partitioning on user_id:
        # at most 2 exchanges total (window sort + agg reuse)
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_scd2_rides_single_key_partitioning(self, spark):
        # lag window + running-sum window + run aggregate + lead window
        # all share the user_id hash partitioning: exactly ONE exchange
        plan = plan_of(REGISTRY["scd2_user_event_history"].spark(spark, SF_DIR), "simple")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_bloom_prefilter_broadcasts_and_aggregates_once(self, spark):
        # map-side bloom filter -> broadcast semi-join -> one agg shuffle
        plan = plan_of(
            REGISTRY["bloom_prefilter_supplier_revenue"].spark(spark, SF_DIR),
            "simple",
        )
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan

    def test_time_range_window_single_exchange(self, spark):
        plan = plan_of(
            REGISTRY["window_time_range_rolling"].spark(spark, SF_DIR), "simple"
        )
        assert plan.count("Exchange hashpartitioning") == 1

    def test_aggregation_is_partial_then_final(self, spark):
        plan = plan_of(REGISTRY["agg_pricing_summary"].spark(spark, SF_DIR), "simple")
        # map-side combine: partial_ aggregate functions before the shuffle
        assert "partial_" in plan

    def test_whole_stage_codegen_covers_scan_filter_agg(self, spark):
        # AQE hides codegen markers pre-execution; plan without it
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = plan_of(
                REGISTRY["agg_pricing_summary"].spark(spark, SF_DIR), "simple"
            )
            assert "*(1)" in plan  # codegen stage markers
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")


class TestSourceScale:
    def test_distributed_salesforce_read_parallelism(self, spark):
        from tests.fixtures_salesforce import datasource_options
        from dlt_salesforce_iceberg_rest_demo_spark.sources.datasource import (
            SalesforceDataSource,
        )

        spark.dataSource.register(SalesforceDataSource)
        df = (
            spark.read.format("salesforce")
            .options(**datasource_options(numpartitions="8"))
            .load()
        )
        # the fetch stage must carry the requested fan-out
        assert df.rdd.getNumPartitions() >= 8


class TestNewOperatorPlans:
    def test_corpus_top_bigrams_is_take_ordered(self, spark):
        # top-k must be TakeOrdered (per-partition heap + driver merge),
        # never a global sort materialization.
        plan = plan_of(REGISTRY["corpus_top_bigrams"].spark(spark, SF_DIR), "simple")
        assert "TakeOrderedAndProject" in plan
        assert "partial_count" in plan  # map-side combine before shuffle

    def test_centroids_partial_aggregated(self, spark):
        # (label, pos) mean must partial-aggregate before shuffling:
        # reduce fan-in is dim x labels, independent of corpus size.
        plan = plan_of(
            REGISTRY["embedding_centroids_by_label"].spark(spark, SF_DIR), "simple"
        )
        assert "partial_sum" in plan

    def test_redact_pii_no_shuffle(self, spark):
        plan = plan_of(REGISTRY["text_redact_pii"].spark(spark, SF_DIR), "simple")
        assert "Exchange" not in plan

    def test_stratified_sample_no_shuffle(self, spark):
        plan = plan_of(
            REGISTRY["sample_stratified_hash"].spark(spark, SF_DIR), "simple"
        )
        assert "Exchange" not in plan


class TestTpchPlans:
    def test_q3_pushdown_and_broadcast(self, spark):
        plan = plan_of(REGISTRY["tpch_q3_shipping_priority"].spark(spark, SF_DIR))
        # both date cutoffs reach their parquet scans
        assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
        assert "LessThan(o_orderdate" in plan
        # customer dim broadcast; top-10 is TakeOrdered, not global sort
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_q8_all_dims_broadcast(self, spark):
        # 6 joins; only lineitem-orders may shuffle - customer, both
        # nation roles, region, supplier all broadcast
        plan = plan_of(REGISTRY["tpch_q8_market_share"].spark(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 5

    def test_q18_semi_join_broadcasts_qualifying_keys(self, spark):
        plan = plan_of(REGISTRY["tpch_q18_large_orders"].spark(spark, SF_DIR))
        # the HAVING subquery becomes a broadcast left-semi: the big
        # lineitem probe side never shuffles for qualification
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan

    def test_q19_disjunction_reaches_part_scan(self, spark):
        plan = plan_of(REGISTRY["tpch_q19_disjunctive_revenue"].spark(spark, SF_DIR))
        # the brand/size OR-predicate is pushed to the part scan
        assert "Or(And(EqualTo(p_brand" in plan

    def test_q22_anti_join_after_scalar_subquery(self, spark):
        plan = plan_of(REGISTRY["tpch_q22_idle_customers"].spark(spark, SF_DIR))
        assert "LeftAnti" in plan
        # the orders side of the anti join is date-filtered at the scan
        assert "GreaterThanOrEqual(o_orderdate" in plan

    def test_q4_exists_is_semi_join_with_pushed_window(self, spark):
        plan = plan_of(REGISTRY["tpch_q4_order_priority"].spark(spark, SF_DIR))
        # EXISTS decorrelates to a semi join; each order counted once
        assert "LeftSemi" in plan
        # the orders year window reaches the parquet scan
        assert "GreaterThanOrEqual(o_orderdate" in plan
        assert "LessThan(o_orderdate" in plan

    def test_q5_dims_broadcast_single_fact_shuffle(self, spark):
        plan = plan_of(REGISTRY["tpch_q5_local_supplier_volume"].spark(spark, SF_DIR))
        # customer, supplier, nation, region all broadcast
        assert plan.count("BroadcastHashJoin") >= 4

    def test_q6_pure_scan_agg_no_row_shuffle(self, spark):
        plan = plan_of(REGISTRY["tpch_q6_forecast_revenue"].spark(spark, SF_DIR))
        # all three predicates pushed to the lineitem scan
        assert "GreaterThanOrEqual(l_shipdate" in plan
        assert "GreaterThanOrEqual(l_discount,0.05)" in plan
        assert "LessThan(l_quantity,24.0)" in plan
        # only the one-row partials move: a single partial->final exchange
        simple = plan_of(
            REGISTRY["tpch_q6_forecast_revenue"].spark(spark, SF_DIR), "simple"
        )
        assert simple.count("Exchange") <= 1

    def test_q13_outer_join_preserved(self, spark):
        plan = plan_of(REGISTRY["tpch_q13_customer_distribution"].spark(spark, SF_DIR))
        # the zero-order bucket requires the outer join to survive planning
        assert "LeftOuter" in plan or "RightOuter" in plan

    def test_q16_part_predicates_pushed(self, spark):
        plan = plan_of(REGISTRY["tpch_q16_supplier_part_counts"].spark(spark, SF_DIR))
        # the IN-list prunes the part scan before the broadcast build
        assert "In(p_size" in plan
        assert "Not(EqualTo(p_brand,Brand#19))" in plan


class TestAnalyticsPlans:
    """Plan audits for the analytics tranche."""

    def test_random_projection_is_map_only(self, spark):
        # Zero Exchange: the whole reduction happens in the scan's
        # project — the operator's core scale claim.
        plan = plan_of(REGISTRY["embedding_random_projection"].spark(spark, SF_DIR))
        assert "Exchange" not in plan

    def test_inference_scoring_is_map_only(self, spark):
        plan = plan_of(REGISTRY["inference_batch_score"].spark(spark, SF_DIR))
        assert "Exchange" not in plan
        assert "MapInPandas" in plan

    def test_bm25_small_sides_broadcast(self, spark):
        # df table (<= |terms| rows) and corpus totals (1 row) must ride
        # broadcasts — the fact side never shuffles for them.
        plan = plan_of(REGISTRY["text_bm25_topk"].spark(spark, SF_DIR))
        assert plan.count("BroadcastExchange") >= 2
        assert "SortMergeJoin" not in plan

    def test_mode_is_two_aggregates_no_window(self, spark):
        # argmax via max-of-struct: two hash aggregates, no Window sort
        # over raw events.
        plan = plan_of(REGISTRY["mode_event_type_per_user"].spark(spark, SF_DIR))
        assert "Window" not in plan
        assert plan.count("HashAggregate") >= 4  # partial+final x 2 levels

    def test_edit_distance_join_no_cartesian(self, spark):
        # FastSS blocking must plan an equi-join on the variant key,
        # never the oracle's cross join.
        plan = plan_of(REGISTRY["dedup_edit_distance_names"].spark(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_skew_kurtosis_single_scan_partial_agg(self, spark):
        # One events scan, partial+final aggregate — no join, no window.
        import re

        plan = plan_of(REGISTRY["stats_skew_kurtosis"].spark(spark, SF_DIR))
        # formatted mode prints each scan twice (tree + detail block);
        # count the numbered detail headers instead.
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert "Window" not in plan

    def test_prefix_jaccard_no_cartesian(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        docs = load_table(spark, SF_DIR, "documents")
        plan = plan_of(dedup.prefix_jaccard_pairs(docs, n=2, threshold=0.5))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_containment_no_cartesian_either_path(self, spark):
        """The frequency-split containment join must stay key-equi-
        joined on both the cold (shingle-keyed) and hot (hid-keyed)
        paths — a cartesian anywhere defeats the whole design."""
        from dlt_salesforce_iceberg_rest_demo_spark.operators import dedup

        docs = load_table(spark, SF_DIR, "documents")
        for cap in (10**9, 1):  # pure-cold plan and hot-dominated plan
            plan = plan_of(dedup.containment_pairs(docs, df_cap=cap))
            assert "CartesianProduct" not in plan, cap
            assert "BroadcastNestedLoopJoin" not in plan, cap
        # hot-dominated plan runs the Arrow popcount verify
        assert "mapInPandas" in plan or "MapInPandas" in plan


class TestTimeseriesPlans:
    """Plan audits for the time-series / CDC tranche: the scale claims
    each docstring makes must be visible in the physical plan."""

    def test_ohlc_is_single_aggregate_no_window(self, spark):
        # OHLC bars are one partial+final aggregate on (user, hour);
        # the oracle's double ROW_NUMBER window never appears.
        plan = plan_of(REGISTRY["timeseries_ohlc_hourly"].spark(spark, SF_DIR))
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan

    def test_cdc_apply_no_window(self, spark):
        # Last-writer-wins is an argmax aggregate, not a row_number sort.
        plan = plan_of(REGISTRY["cdc_apply_changelog"].spark(spark, SF_DIR))
        assert "Window" not in plan

    def test_concurrency_bulk_window_is_bucket_partitioned(self, spark):
        # The event-volume window must be partitioned by the hour bucket;
        # only the per-bucket-aggregate window (rows = #hours) may be
        # global. formatted-mode: every Window node lists its spec.
        import re

        plan = plan_of(
            REGISTRY["interval_max_concurrency"].spark(spark, SF_DIR)
        )
        windows = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\([^\)]*\)", plan)
        assert windows, plan
        partitioned = [w for w in windows if "bucket#" in w]
        assert partitioned, f"no bucket-partitioned window in {windows}"

    def test_weighted_priority_is_takeordered(self, spark):
        # k smallest priorities must run as TakeOrderedAndProject
        # (per-partition heaps), never a global Sort.
        plan = plan_of(REGISTRY["sample_weighted_priority"].spark(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan

    def test_rolling_median_frame_is_bounded(self, spark):
        # collect_list must carry the ROWS 4 PRECEDING frame - an
        # unbounded frame would mean O(partition) state per row.
        plan = plan_of(REGISTRY["window_rolling_median"].spark(spark, SF_DIR))
        assert "specifiedwindowframe(RowFrame, -4, currentrow" in plan


class TestRetrievalPlans:
    def test_maxsim_query_side_broadcast(self, spark):
        # The query bag must ride a broadcast nested-loop join; the
        # corpus side is scanned once, never shuffled for the join.
        plan = plan_of(REGISTRY["similarity_maxsim_labels"].spark(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_basket_topk_is_takeordered(self, spark):
        plan = plan_of(REGISTRY["market_basket_lift"].spark(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan


class TestStatsPlans:
    """The distinct-value-table claim: rank statistics must scan the
    raw table once and run their windows over post-aggregate data."""

    def _scan_count(self, plan):
        import re

        return len(re.findall(r"\(\d+\) Scan parquet", plan))

    def test_mann_whitney_single_scan(self, spark):
        plan = plan_of(REGISTRY["stats_mann_whitney_u"].spark(spark, SF_DIR))
        assert self._scan_count(plan) == 1
        assert "Window" in plan  # over distinct values only

    def test_gini_single_scan(self, spark):
        plan = plan_of(REGISTRY["stats_gini_order_prices"].spark(spark, SF_DIR))
        assert self._scan_count(plan) == 1

    def test_ks_single_scan(self, spark):
        plan = plan_of(REGISTRY["stats_ks_two_sample"].spark(spark, SF_DIR))
        assert self._scan_count(plan) == 1
        # 1-row total joins via broadcast NLJ, never a shuffle join
        assert "SortMergeJoin" not in plan


class TestLinkagePlans:
    """Plan audits for the linkage / pathing tranche: each docstring's
    scale claim must be visible in the physical plan."""

    def test_sparse_cosine_no_cartesian(self, spark):
        # Posting-list self-join keys on the shingle — never a cross
        # join of the document table with itself.
        plan = plan_of(REGISTRY["text_sparse_cosine_pairs"].spark(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_gram_matrix_single_scan_single_shuffle(self, spark):
        import re

        # One embeddings scan feeding the Arrow-batched partial-Gram
        # kernel; the only Exchange is the (i, j) cell aggregation —
        # the map-side D^2 grid never joins and never explodes.
        plan = plan_of(REGISTRY["embedding_gram_matrix"].spark(spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert "MapInPandas" in plan
        assert "Join" not in plan
        assert "Generate" not in plan  # no posexplode row blow-up
        assert plan.count("Exchange") <= 2  # shuffle (+ AQE read)

    def test_link_prediction_no_cartesian(self, spark):
        plan = plan_of(
            REGISTRY["graph_link_prediction_customers"].spark(spark, SF_DIR)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # deterministic top-k must plan as TakeOrdered, not global sort
        assert "TakeOrderedAndProject" in plan

    def test_byte_histogram_no_join_no_window(self, spark):
        plan = plan_of(REGISTRY["multimodal_byte_histogram"].spark(spark, SF_DIR))
        assert "Join" not in plan
        assert "Window" not in plan

    def test_trigram_paths_single_window_pass(self, spark):
        import re

        # Both LAGs fuse into ONE Window node over one user shuffle;
        # no self-joins of the event stream.
        plan = plan_of(REGISTRY["events_top_trigram_paths"].spark(spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) Window", plan)) == 1
        assert "Join" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_coalesce_windows_are_user_partitioned(self, spark):
        # Gaps-and-islands windows must be PARTITIONED (bounded state),
        # never a global single-partition sort.
        plan = plan_of(
            REGISTRY["interval_coalesce_user_coverage"].spark(spark, SF_DIR)
        )
        assert "hashpartitioning(user_id" in plan
        assert "SinglePartition" not in plan


class TestRound3OperatorPlans:
    """Plan audits for the round-3 additions: the composed DBSCAN scale
    path and the quantized PQ pipeline."""

    def test_lsh_neighbor_pairs_no_cartesian_no_perpair_python(self, spark):
        # Candidate generation must key on (table, bucket) — never an
        # all-pairs join — and the cosine filter runs as ONE grouped
        # Arrow kernel (FlatMapGroupsInPandas), not a per-pair fold
        # over an array-carrying join.
        from dlt_salesforce_iceberg_rest_demo_spark.operators.similarity import (
            lsh_neighbor_pairs,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        emb = load_table(spark, SF_DIR, "embeddings")
        plan = plan_of(lsh_neighbor_pairs(emb, dim=64, n_planes=6, n_tables=8))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "FlatMapGroupsInPandas" in plan
        # one shuffle for the bucket grouping + one for the distinct
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_pq_topk_scoring_stays_jvm_side(self, spark):
        # ADC scoring: corpus codes cross the tiny broadcast query set
        # (BroadcastNestedLoopJoin is the INTENDED shape for a
        # crossJoin against <10 rows); the LUT evaluation is a plan
        # literal, so no Python appears between the encode UDF and the
        # shortlist window.
        plan = plan_of(REGISTRY["similarity_pq_topk"].spark(spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "WindowGroupLimit" in plan  # shortlist prunes pre-shuffle
        # ZERO Python in the returned plan (round-11): the single
        # encode pass runs inside the codes checkpoint's construction
        # job (_pq_corpus_codes), so the ADC/rerank plan consumes a
        # plain (corpus_id, codes) LogicalRDD — the r8 invariant
        # ("exactly one encode pass over the corpus") is now enforced
        # at == 0 here plus the construction-side pass; a reappearing
        # ArrowEvalPython would mean the post-hoc-filter duplication
        # regressed into the consumer plan.
        assert plan.count("ArrowEvalPython (") == 0

    @pytest.mark.exhaustive
    def test_no_registry_plan_duplicates_a_python_udf(self, spark):
        """Catalyst's Python-UDF extraction does not CSE across
        operators: a .filter(udf_out.isNotNull()) after the projection
        — or an inner join keyed on a nullable UDF output (implicit
        IsNotNull) — plans the SAME UDF into two ArrowEvalPython
        nodes, silently executing the Arrow stage twice. Sweep every
        registry query's physical plan for repeated UDF signatures
        (r8 audit found pq encode, kmeans/ivf/semdedup assign)."""
        import collections
        import re

        offenders = {}
        for name, entry in REGISTRY.items():
            df = entry.spark(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            sigs = re.findall(
                r"(?:ArrowEvalPython|BatchEvalPython) \[([a-zA-Z_0-9]+\([^)]*\))",
                plan,
            )
            dup = [s for s, c in collections.Counter(sigs).items() if c > 1]
            # map-style Python nodes have no extractable signature, but
            # the same hazard applies when one mapInPandas output feeds
            # two consumers (the subtree duplicates per consumer — the
            # Misra-Gries kernel scanned its input twice until its
            # summary was localCheckpointed); no registry query
            # composes two DISTINCT map kernels in one plan, so >1 is
            # a duplication until a query legitimately needs two
            n_map = len(
                re.findall(
                    r"MapInPandas|PythonMapInArrow|FlatMapGroupsInPandas",
                    plan,
                )
            )
            if n_map > 1:
                dup.append(f"{n_map} map-style python nodes")
            if dup:
                offenders[name] = dup
        assert not offenders, offenders

    def test_pack_sequences_single_domain_shuffle(self, spark):
        # One hash Exchange on the md5 bucket feeds the grouped FFD
        # kernel; no further shuffle before the per-bin rollup.
        from dlt_salesforce_iceberg_rest_demo_spark.operators.text import (
            pack_sequences,
        )
        from dlt_salesforce_iceberg_rest_demo_spark.sources.parquet import load_table

        docs = load_table(spark, SF_DIR, "documents")
        plan = plan_of(pack_sequences(docs, max_tokens=128, num_partitions=8))
        assert "FlatMapGroupsInPandas" in plan
        import re

        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        assert "hashpartitioning(part" in plan


@pytest.mark.exhaustive
class TestNonRegistryPythonOpSweep:
    """r9 verdict task 3: the duplicated-Python-op sweep above covers
    only plans a REGISTRY query composes — the Misra-Gries duplication
    was caught solely because a registry query happened to compose the
    kernel. These tests execute the operator entry points NO registry
    query reaches (persisted-index build/query splits, the
    non-broadcast incremental-substring probe) and hold them to the
    same invariant: no duplicated
    scalar-UDF signature, at most one map-style Python node, per plan.
    Building this sweep immediately caught another instance:
    `pq_build` aliased the encode UDF output and posexploded it, and
    InferFiltersFromGenerate's size()>0 filter — rewritten through the
    projection by filter pushdown — re-extracted the encode into a
    second ArrowEvalPython (the whole corpus encoded twice on every
    index build; Spark's own UDF exemption in that rule only covers a
    DIRECT UDF generator child). Fixed with a constant-sequence
    explode + element_at."""

    @staticmethod
    def _audit(name, plan, offenders):
        import collections
        import re

        sigs = re.findall(
            r"(?:ArrowEvalPython|BatchEvalPython) \[([a-zA-Z_0-9]+\([^)]*\))",
            plan,
        )
        dup = [s for s, c in collections.Counter(sigs).items() if c > 1]
        n_map = len(
            re.findall(
                r"MapInPandas|PythonMapInArrow|FlatMapGroupsInPandas", plan
            )
        )
        if n_map > 1:
            dup.append(f"{n_map} map-style python nodes")
        if dup:
            offenders[name] = dup

    @staticmethod
    def _executed(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    @pytest.fixture()
    def rec_lake(self, spark, tmp_path):
        """ParquetLake that records the DataFrame of every replace()
        so the build paths' write-side plans are auditable."""
        from dlt_salesforce_iceberg_rest_demo_spark.sinks.dispositions import (
            ParquetLake,
        )

        class RecLake(ParquetLake):
            def __init__(self, spark, root):
                super().__init__(spark, root)
                self.recorded = []

            def replace(self, df, table):
                self.recorded.append((table, df))
                return super().replace(df, table)

        return RecLake(spark, tmp_path / "lake")

    def test_pq_index_paths_no_duplicated_python(self, spark, rec_lake):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity

        emb = load_table(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 4)
        offenders: dict = {}
        similarity.pq_build(emb, rec_lake, "pqidx", m=16, n_codes=8, iters=1)
        for t, df in rec_lake.recorded:
            self._audit(f"pq_build:{t}", self._executed(df), offenders)
        self._audit(
            "pq_query_adc",
            self._executed(similarity.pq_query(rec_lake, "pqidx", q, k=3)),
            offenders,
        )
        self._audit(
            "pq_query_rerank",
            self._executed(
                similarity.pq_query(rec_lake, "pqidx", q, k=3, corpus=emb)
            ),
            offenders,
        )
        assert not offenders, offenders

    def test_ivf_index_paths_no_duplicated_python(self, spark, rec_lake):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import similarity

        emb = load_table(spark, SF_DIR, "embeddings")
        q = emb.filter(F.col("vec_id") < 4)
        offenders: dict = {}
        similarity.ivf_build(emb, rec_lake, "ivfidx", n_centroids=4, iters=1)
        for t, df in rec_lake.recorded:
            self._audit(f"ivf_build:{t}", self._executed(df), offenders)
        self._audit(
            "ivf_query",
            self._executed(similarity.ivf_query(rec_lake, "ivfidx", q, k=3)),
            offenders,
        )
        assert not offenders, offenders

    def test_incremental_substring_probe_modes(self, spark):
        from dlt_salesforce_iceberg_rest_demo_spark.operators import text

        docs = load_table(spark, SF_DIR, "documents")
        base = docs.filter(F.col("doc_id") % 3 != 0)
        new = docs.filter(F.col("doc_id") % 3 == 0)
        idx = text.exact_substring_index(base, window=8)
        offenders: dict = {}
        for mode in (True, False):
            self._audit(
                f"incr_spans_broadcast={mode}",
                self._executed(
                    text.incremental_exact_substring_spans(
                        new, idx, window=8, broadcast_probe=mode
                    )
                ),
                offenders,
            )
        assert not offenders, offenders
