"""Plan-shape regression tests: the properties that make these queries
scale are asserted, not assumed. If a refactor silently drops a pushed
filter, un-broadcasts a dimension, or turns top-k into a global sort,
these fail before any benchmark notices.
"""

from __future__ import annotations

import pytest

from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted(spark, name):
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_count_guard_pushes_day_range_and_inlist(spark):
    plan = _formatted(spark, "count_guard_inlist")
    assert "PushedFilters:" in plan
    # Catalyst rewrites to_date(x) = d into a [d, d+1) range on the scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "In(l_returnflag" in plan


def test_pricing_summary_prunes_columns_and_partial_aggs(spark):
    plan = _formatted(spark, "pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_topk_is_take_ordered_not_global_sort(spark):
    df = QUERIES["topk_recent_events"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dims(spark):
    plan = _formatted(spark, "star_join_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region at minimum


def test_merge_upsert_no_cartesian(spark):
    plan = _formatted(spark, "merge_upsert_orders")
    assert "CartesianProduct" not in plan
    assert "FULL OUTER" in plan.upper() or "FullOuter" in plan


@pytest.mark.parametrize(
    "name", ["latest_event_per_key", "window_topk_per_customer"]
)
def test_window_queries_single_exchange(spark, name):
    plan = _formatted(spark, name)
    # one hash exchange for the window partition key; no extra shuffles
    assert plan.count("hashpartitioning(") <= 1


def test_asof_is_union_scan_not_range_join(spark):
    plan = _formatted(spark, "asof_attribution")
    # union-scan form: window over one key exchange, never a join operator
    assert "Join" not in plan
    assert "Union" in plan and "Window" in plan
    assert plan.count("hashpartitioning(") <= 1


def test_interval_join_is_hash_not_nested_loop(spark):
    plan = _formatted(spark, "views_before_purchase")
    # equi-key on user_id must anchor the join; range residual rides along
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_curated_corpus_filters_before_the_dedup_shuffle(spark):
    plan = _formatted(spark, "curated_corpus")
    # quality/lang/length cuts are row-local projections + one Filter
    # feeding the single hash exchange (dedup on the content fingerprint)
    assert plan.count("hashpartitioning(") == 1
    # rank()==1 pushes down as WindowGroupLimit (per-partition top-1 before
    # the full window sort touches every row)
    assert "WindowGroupLimit" in plan


@pytest.mark.parametrize("name", ["q10_returned_revenue", "q18_big_orders"])
def test_olap_topk_is_take_ordered(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q8_market_share"])
def test_olap_dims_broadcast_no_cartesian(spark, name):
    plan = _formatted(spark, name)
    assert plan.count("BroadcastHashJoin") >= 2  # nation roles at minimum
    assert "CartesianProduct" not in plan


def test_q22_scalar_broadcast_and_antijoin(spark):
    plan = _formatted(spark, "q22_idle_customers")
    # the global-average threshold is a 1-row broadcast (nested-loop on a
    # single row is the right plan); the no-recent-orders test is an
    # anti-join, never a per-row subquery
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q19_brand_inlist_reaches_part_scan(spark):
    plan = _formatted(spark, "q19_or_pushdown")
    assert "In(p_brand" in plan  # hand-derived OR-common predicate pushed


def test_small_qty_revenue_broadcasts_both_small_sides(spark):
    plan = _formatted(spark, "small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # part keys + thresholds
    # lineitem scanned, filtered by broadcast — never shuffled whole
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark):
    """Runtime (Bloom) filter injection: a selective creation side pushes
    a might_contain pre-filter onto the big fact scan of a shuffle join.
    Size-gated in production (creation side small, application side
    large — met naturally at 100 TB); thresholds are lowered here only
    to make the sf0.01 plan cross the gate, proving the session config
    has the capability ON."""
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        sel = orders.filter("o_totalprice > 400000").select("o_orderkey")
        j = li.join(sel, li["l_orderkey"] == sel["o_orderkey"]).groupBy().count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan  # bloom filter reached the fact side
        assert plan.count("SortMergeJoin") >= 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- round-4 operators ---------------------------------------------------


def test_pii_scrub_prunes_to_two_columns_no_shuffle(spark):
    plan = _formatted(spark, "pii_scrub_docs")
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read and "text" in read and "lang" not in read
    # row-local projection chain: the only exchange is the output sort
    assert plan.count("Exchange hashpartitioning") == 0


def test_bm25_single_corpus_scan_and_take_ordered(spark):
    df = QUERIES["bm25_retrieval"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the tf posting frame is checkpoint-pinned: documents scanned once
    # for tf (plus the bounded 1-row corpus-stats scalar)
    assert plan.count("FileScan parquet") <= 2
    assert "TakeOrderedAndProject" in plan


def test_duplicate_spans_shuffles_hashes_not_text(spark):
    plan = _formatted(spark, "duplicate_spans_docs")
    # both aggregates partial-aggregate map-side
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_no_cartesian_and_partial_aggs(spark):
    plan = _formatted(spark, "pq_topk_adc")
    assert "CartesianProduct" not in plan
    # r15 in-row ADC: the corpus side is a projection (codes computed
    # in-row over the broadcast codebook), the bounded query side
    # attaches by broadcast — the adjudicated one-row-broadcast-cross
    # pattern; no (s, code) join and no score-sum aggregation exchange
    # remain. The only hash exchange left is the per-query rank window.
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(q_id" in plan  # the rank window's exchange
    assert "HashAggregate" not in plan  # score-sum aggregation gone


# Every registry query whose plan spreads a one-file scan with
# io.spread_small_scan at sf0.001 (the round-robin exchange the test
# checks for is that spread).
SPREAD_QUERIES = [
    "duplicate_spans_docs",
    "incremental_dedup_batch",
    "ivf_topk_kmeans",
    "ivfpq_rerank_topk",
    "ivfpq_topk_adc",
    "jaccard_near_dups",
    "minhash_pairs",
    "ngram_novelty_docs",
    "pq_topk_adc",
    "repetition_ratio_docs",
    "semantic_dedup_kmeans",
    "simhash_docs",
    "substring_dedup_spans",
]


@pytest.mark.parametrize("name", SPREAD_QUERIES)
def test_spread_runs_the_fold_only_above_the_exchange(spark, name):
    """No inferred or pushed filter carries an in-row fold below the
    spread exchange onto the one-task scan (tools/plan_audit.py flag
    SPREAD_BYPASSED), unless the query is allowlisted in SPREAD_OK."""
    from tools.plan_audit import SPREAD_OK, spread_bypassed

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: spread_small_scan adds no exchange")
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan
    assert name in SPREAD_OK or not spread_bypassed(plan), (
        f"{name}: a filter runs an in-row fold below the spread exchange"
    )


def test_spread_bypassed_reads_the_tree_depth():
    from tools.plan_audit import spread_bypassed

    fold = "Filter (size(filter(t#1, lambdafunction(NOT (lambda x#2 = ), lambda x#2, false))) >= 50)"
    below = (
        "Project [t#1]\n"
        "+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=1]\n"
        f"   +- *(1) {fold}\n"
        "      +- FileScan parquet [t#1]\n"
    )
    above = (
        f"{fold}\n"
        "+- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=1]\n"
        "   +- FileScan parquet [t#1]\n"
    )
    beside = (
        "BroadcastHashJoin [k#1], [k#3], Inner, BuildRight\n"
        ":- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=1]\n"
        ":  +- FileScan parquet [k#1]\n"
        f"+- {fold}\n"
        "   +- FileScan parquet [k#3,t#1]\n"
    )
    assert spread_bypassed(below)
    assert not spread_bypassed(above)
    assert not spread_bypassed(beside)
