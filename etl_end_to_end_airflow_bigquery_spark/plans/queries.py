"""Named query inventory — every operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable, mirrored 1:1 by a DuckDB oracle in
``oracles.py`` (same aliases, same rounding, same tie-breaks).

Determinism rules (FIXTURES.md "Determinism"):
- all double sums/averages go through exact decimal accumulation
  (``relational.decimal_sum``) so values are independent of partitioning
  and match DuckDB bit-for-bit;
- every ORDER BY ends in a unique key so top-k is a total order;
- timestamps stay microsecond ``timestamp_ntz`` end-to-end (events' ns
  column is truncated ns→µs identically in both engines);
- every computed column is aliased identically here and in the oracle.

Scale notes are attached per query: each plan is shaped so the same code
runs on a 1000-executor cluster — filters push to the parquet scan,
small dimensions broadcast, top-k is TakeOrderedAndProject (no global
sort), and aggregations are partial+final hash aggregates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators.relational import (
    decimal_avg,
    decimal_sum,
    global_cumsum,
    latest_per_key,
    round_half_up,
)
from ..operators.skew import salted_count_sum
from ..operators.temporal import asof_join, interval_overlap_join, range_join
from ..operators.writers import idempotent_append_df, merge_upsert_df
from ..sources.events import load_events

QueryFn = Callable[[SparkSession, str], DataFrame]

# Shared literals (also interpolated into the oracle SQL).
PRICING_CUTOFF = "2000-12-01"
GUARD_SHIP_DATE = "1995-08-09"
GUARD_FLAGS = ("R", "A")
GUARD_EVENT_DATE = "2024-01-15"
GUARD_EVENT_TYPE = "purchase"
STAR_LO = "1996-01-01"
STAR_HI = "1997-12-31"
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min session gap, microseconds
Q4_LO = "1996-07-01"
Q4_HI = "1996-10-01"
Q17_BRAND = "Brand#13"
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --- §2.4/§2.8: flagship daily report (A2+A4+F1-F3+F8) -------------------


def daily_avg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical report (README.md:50-64): daily AVG per
    key, rounded to 4 dp. `events` stands in for the FX tick table
    (FIXTURES.md §C): (ts, event_type, value) ≈ (date, pair, rate).

    Scale: single shuffle on (day, type) — partial aggregates map-side;
    at 100 TB this is the textbook partial+final hash aggregate.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.to_date("ts").alias("report_date"),
            F.col("event_type"),
        )
        .agg(
            round_half_up(decimal_avg(F.col("value")), 4).alias("avg_rate"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("report_date", "event_type")
    )


# --- §2.6/§2.4: top-k by recency + last-10 average (O1, A1) --------------


def topk_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ts DESC LIMIT 10 (``dags/ FXRate_Reporting_Pipeline.py:141``).

    Planned as TakeOrderedAndProject: per-partition local top-k, merged at
    the driver — no global sort at any scale. event_id tiebreak makes the
    cut deterministic.
    """
    ev = load_events(spark, sf_dir)
    return ev.select("event_id", "ts", "value").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    ).limit(10)


def avg_last10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numpy-mean over the 10 most recent ticks
    (``dags/ FXRate_Reporting_Pipeline.py:144-152``) — kept entirely
    in-plan: top-k feeds the aggregate without a driver round-trip.
    """
    ev = load_events(spark, sf_dir)
    top = ev.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(10)
    return top.agg(
        round_half_up(decimal_avg(F.col("value")), 4).alias("avg_rate"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def top_orders_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 on the orders table: recency top-k with composite tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_orderdate", "o_totalprice").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    ).limit(10)


# --- §2.2: predicates (P3, P4, P5) + COUNT guard (A3) --------------------


def count_guard_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-equality + IN-list + COUNT(*) guard
    (``dags/idempotent_fx_pipeline.py:73-87``; P3/P5/A3).

    Both predicates push down to the parquet scan (visible as
    PushedFilters in .explain) — at scale only matching row groups are
    decoded; with date-partitioned layout the day filter prunes
    partitions before any IO.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.to_date("l_shipdate") == F.lit(GUARD_SHIP_DATE).cast("date"))
        & F.col("l_returnflag").isin(*GUARD_FLAGS)
    ).agg(F.count(F.lit(1)).alias("n_rows"))


def report_exists_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report-level existence check (A3/P3/P4 on the tick table):
    'is there already a row for (day, key)?'
    (``dags/idempotent_fx_pipeline.py:184-198``)."""
    ev = load_events(spark, sf_dir)
    return ev.filter(
        (F.to_date("ts") == F.lit(GUARD_EVENT_DATE).cast("date"))
        & (F.col("event_type") == GUARD_EVENT_TYPE)
    ).agg(F.count(F.lit(1)).alias("n_existing"))


# --- §2.8: JSON handling (S1-adjacent, P2, F10) --------------------------


def json_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field extraction from a JSON document column (P2: the
    ``data.get("…")`` pattern, ``dags/ FXRate_Reporting_Pipeline.py:46-48``).
    JVM-side ``get_json_object`` — no Python in the loop.
    """
    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


def json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON object → rows (F10: the ``rates.items()`` loop,
    ``dags/ FXRate_Reporting_Pipeline.py:54-61``, as an engine-side
    explode). ``from_json`` to a typed map, then generator expansion —
    runs inside codegen, scales linearly with rows.
    """
    ev = load_events(spark, sf_dir)
    parsed = ev.select(
        "event_id",
        F.from_json("props", "map<string,bigint>").alias("m"),
    )
    return parsed.select(
        "event_id",
        F.explode("m").alias("prop_key", "prop_val"),
    )


# --- §2.5: window functions (latest-wins, ranked top-k per key) ----------


def latest_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins row per (user, type): the MERGE 'latest analysis
    overwrites previous' semantic (README.md:8,66) as row_number()=1.
    One shuffle on the key; no global sort.
    """
    ev = load_events(spark, sf_dir)
    latest = latest_per_key(
        ev,
        keys=["user_id", "event_type"],
        order_cols=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ranked top-k (§2.5): the reference's ORDER BY+LIMIT
    generalized to 'top 3 most recent orders per customer'."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_orderdate", "rn")
    )


# --- §2.7: set operations -------------------------------------------------


def setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having both open ('O') and finished ('F') orders."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.intersect(f)


def setops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with open orders and no finished orders (EXCEPT)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.subtract(f)


def setops_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged UNION ALL of two slices (the only set-op family the
    reference's MERGE matched/not-matched split approximates)."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_custkey", F.lit("open").alias("bucket")
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey", F.lit("finished").alias("bucket")
    )
    return o.unionByName(f)


# --- §2.8: scalar function pack (F1-F9) ----------------------------------


def scalar_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One projection exercising the reference's scalar surface:
    DATE() cast (F2), month truncation (F1), arithmetic + ROUND (F7/F8),
    string formatting (F9), greatest/least comparisons. All JVM-side,
    whole-stage-codegen'd; the l_linenumber filter pushes down."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        F.to_date("l_shipdate").alias("ship_date"),
        F.trunc("l_shipdate", "month").alias("ship_month"),
        round_half_up(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
        F.concat(F.lit("ITEM_"), F.col("l_orderkey").cast("string")).alias("item_tag"),
        F.upper("l_returnflag").alias("flag_u"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
    )


# --- §2.4: TPC-H Q1-style pricing summary (headline aggregate) -----------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over lineitem (the canonical partial+final hash
    aggregate; generalizes the reference's grouped AVG, README.md:52-58).

    Scale: scan reads only the 7 referenced columns (column pruning), the
    shipdate filter pushes to parquet, and the 6-group aggregate does
    map-side partial aggregation — shuffle traffic is 6 rows/partition
    regardless of input size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(decimal_sum(F.col("l_quantity"), wide=True), 2).alias("sum_qty"),
            round_half_up(decimal_sum(F.col("l_extendedprice"), wide=True), 2).alias("sum_base_price"),
            round_half_up(decimal_sum(disc_price, wide=True), 2).alias("sum_disc_price"),
            round_half_up(decimal_sum(charge, wide=True), 2).alias("sum_charge"),
            round_half_up(decimal_avg(F.col("l_quantity"), wide=True), 4).alias("avg_qty"),
            round_half_up(decimal_avg(F.col("l_extendedprice"), wide=True), 4).alias("avg_price"),
            round_half_up(decimal_avg(F.col("l_discount"), wide=True), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- §2.3-adjacent: star-schema join (J-extension; bench headline) -------


def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation across the full star schema.

    Scale: region/nation are broadcast (explicit hint — they are bounded
    dimension tables at any SF); customer⋈orders and orders⋈lineitem are
    shuffle joins on their keys, which AQE converts to broadcast when a
    side is small and skew-splits when not. The shipdate range filter
    pushes to the lineitem scan before any join.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(STAR_LO).cast("timestamp_ntz"))
        & (F.col("l_shipdate") <= F.lit(STAR_HI).cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            round_half_up(decimal_sum(revenue, wide=True), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter → 3-table join → grouped revenue →
    top-10. Exercises filter-before-join placement (both predicates reach
    their scans), shuffle joins with AQE, and top-k-after-aggregate.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(round_half_up(decimal_sum(revenue), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side range predicates feeding one scalar
    aggregate — the pushdown showcase (no join, no groupBy key, shuffle
    carries a single partial row per partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        round_half_up(
            decimal_sum(F.col("l_extendedprice") * F.col("l_discount"), wide=True), 2
        ).alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- §2.4: distinct aggregate --------------------------------------------


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per key — two-phase distinct aggregate; Spark
    plans partial distinct before the shuffle (expand + two aggregates)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
        .orderBy("l_suppkey")
    )


# --- §2.4: rollup / grouping sets ----------------------------------------


def rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total rows
    (free Spark capability the reference would need separate queries for)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(decimal_sum(F.col("l_quantity"), wide=True), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping_id().cast("bigint").alias("grp_id"),
        )
        .orderBy("grp_id", "l_returnflag", "l_linestatus")
    )


def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all grouping-set combos in
    one pass (Expand + single aggregate — 4 subtotal levels for one scan)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("bigint").alias("grp_id"),
        )
        .orderBy("grp_id", "o_orderstatus", "o_orderpriority")
    )


# --- §2.4-pivot: conditional aggregation ---------------------------------


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events pivoted to one column per type per day (conditional
    aggregation — same plan shape as df.groupBy().pivot(), spelled
    explicitly so the oracle matches column-for-column)."""
    ev = load_events(spark, sf_dir)
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return (
        ev.groupBy(F.to_date("ts").alias("report_date"))
        .agg(*aggs)
        .orderBy("report_date")
    )


# --- §2.3: MERGE upsert + idempotent append (J1, J2) ---------------------


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — the reference's MERGE (``dags/fx_pipeline_with_merge.py:90-103``)
    on driver tables: upsert a modified slice of orders into a subset.
    Matched keys take every source column; unmatched source rows insert.
    """
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    source = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
    )
    return merge_upsert_df(target, source, keys=["o_orderkey"])


def merge_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the reference's literal MERGE *spelling*
    (``dags/fx_pipeline_with_merge.py:90-103``): the same statement text
    a BigQuery user runs, parsed by operators.merge_sql and lowered onto
    the sentinel-tracked full-outer merge plan. The UPDATE SET names a
    SUBSET of columns (o_orderstatus, o_totalprice), so matched rows
    keep their other target values — semantics merge_upsert_df alone
    doesn't spell.
    """
    from ..operators.merge_sql import merge_into

    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 3 != 0).createOrReplaceTempView(
        "merge_sql_target"
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
        .withColumn("o_orderpriority", F.lit("0-STAGED"))
        .createOrReplaceTempView("merge_sql_staging")
    )
    merged = merge_into(
        spark,
        """
        MERGE `merge_sql_target` T
        USING `merge_sql_staging` S
        ON T.o_orderkey = S.o_orderkey
        WHEN MATCHED THEN
            UPDATE SET
                T.o_orderstatus = S.o_orderstatus,
                T.o_totalprice = S.o_totalprice
        WHEN NOT MATCHED THEN
            INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                    o_orderdate, o_orderpriority)
            VALUES (S.o_orderkey, S.o_custkey, S.o_orderstatus,
                    S.o_totalprice, S.o_orderdate, S.o_orderpriority)
        """,
    )
    return merged.orderBy("o_orderkey")


def merge_sql_sync_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 extension — the full-sync MERGE: the reference's statement
    shape plus ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` (the clause
    Delta/BigQuery users add to make the target mirror the source; the
    reference's own MERGE, ``dags/fx_pipeline_with_merge.py:90-103``,
    stops at upsert). Target rows with no staging match are deleted —
    a filter over the one join every MERGE lowers to, which Catalyst
    narrows to right outer, so the deleted rows never materialize.
    Result: exactly the even order keys
    (matched updates + the %6==0 inserts); every odd target row is
    gone.
    """
    from ..operators.merge_sql import merge_into

    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 3 != 0).createOrReplaceTempView(
        "merge_sync_target"
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
        .createOrReplaceTempView("merge_sync_staging")
    )
    merged = merge_into(
        spark,
        """
        MERGE `merge_sync_target` T
        USING `merge_sync_staging` S
        ON T.o_orderkey = S.o_orderkey
        WHEN MATCHED THEN
            UPDATE SET
                T.o_orderstatus = S.o_orderstatus,
                T.o_totalprice = S.o_totalprice
        WHEN NOT MATCHED THEN
            INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                    o_orderdate, o_orderpriority)
            VALUES (S.o_orderkey, S.o_custkey, S.o_orderstatus,
                    S.o_totalprice, S.o_orderdate, S.o_orderpriority)
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """,
    )
    return merged.orderBy("o_orderkey")


def merge_sql_multi_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 extension #2 — the CONDITIONAL multi-clause MERGE (VERDICT
    r10 item 4): the BigQuery/Delta surface one step past the
    reference's single-clause statement (``README.md:50-64``). Ordered
    clause ladder, first-match-wins per SQL MERGE precedence:

    1. ``WHEN MATCHED AND S.o_totalprice > 400000 THEN DELETE`` —
       expensive repriced matches are dropped;
    2. ``WHEN MATCHED AND T.o_orderpriority = '1-URGENT'`` — urgent
       rows take the new status but KEEP their old price (observable
       precedence: clause 3 would overwrite it);
    3. ``WHEN MATCHED`` — everything else takes status + price;
    4. ``WHEN NOT MATCHED AND S.o_totalprice < 150000 THEN INSERT`` —
       the guarded insert (cheap orders only).

    The oracle spells the identical ladder as CASE logic over the same
    full-outer join, so a clause-order bug (e.g. clause 3 evaluated
    before clause 2) flips thousands of prices and fails the hash. The
    lowering stays ONE sentinel-tracked full-outer equi-join — clause
    count adds CASE branches, never joins or passes.
    """
    from ..operators.merge_sql import merge_into

    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 3 != 0).createOrReplaceTempView(
        "merge_mc_target"
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
        .createOrReplaceTempView("merge_mc_staging")
    )
    merged = merge_into(
        spark,
        """
        MERGE `merge_mc_target` T
        USING `merge_mc_staging` S
        ON T.o_orderkey = S.o_orderkey
        WHEN MATCHED AND S.o_totalprice > 400000 THEN DELETE
        WHEN MATCHED AND T.o_orderpriority = '1-URGENT' THEN
            UPDATE SET T.o_orderstatus = S.o_orderstatus
        WHEN MATCHED THEN
            UPDATE SET
                T.o_orderstatus = S.o_orderstatus,
                T.o_totalprice = S.o_totalprice
        WHEN NOT MATCHED AND S.o_totalprice < 150000 THEN
            INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                    o_orderdate, o_orderpriority)
            VALUES (S.o_orderkey, S.o_custkey, S.o_orderstatus,
                    S.o_totalprice, S.o_orderdate, S.o_orderpriority)
        """,
    )
    return merged.orderBy("o_orderkey")


def idempotent_append_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — check-then-insert (``dags/idempotent_fx_pipeline.py:73-87``)
    strengthened to per-row left-anti: only keys absent from the target
    are appended."""
    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    batch = orders.filter(F.col("o_orderkey") % 5 == 0)
    return idempotent_append_df(target, batch, keys=["o_orderkey"])


def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on the versioned-commit table layout — the
    production shape of S4/J1: MERGE #1 creates the table (snapshot #1 =
    the plain target), MERGE #2 applies ``merge_upsert_orders``'s source
    slice and atomically flips ``_CURRENT`` to snapshot #2.
    ``read_table(version=first)`` then reproduces the PRE-merge state
    from retained files while the pointer read sees the merged table —
    the audit/debug read every snapshotting format (Delta/Iceberg/
    BigQuery ``FOR SYSTEM_TIME AS OF``) offers, here from the ledger +
    ``v_*`` dirs alone.

    Output: one fingerprint row per snapshot (row count, exact
    fixed-point price sum, merged-row count) — the oracle recomputes
    both states relationally, so a hash match proves the old snapshot
    is value-identical to history, not merely present.

    Scale: time travel is metadata-only (read a retained directory);
    no data is copied to keep history. Retention (``keep_versions``)
    bounds disk growth; at 100 TB the hardlinked untouched partitions
    make each snapshot pay only for what the merge touched.
    """
    import os
    from ..tmputil import session_tmpdir

    from ..operators.writers import merge_upsert, read_table, table_versions

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(session_tmpdir("time_travel_"), "orders_tbl")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    merge_upsert(spark, path, target, keys=["o_orderkey"])
    source = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
    )
    merge_upsert(spark, path, source, keys=["o_orderkey"])
    first = table_versions(path)[0]

    def _fingerprint(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            decimal_sum(F.col("o_totalprice")).alias("sum_price"),
            F.count(F.when(F.col("o_orderstatus") == "M", F.lit(1))).alias(
                "n_merged"
            ),
        ).select(F.lit(tag).alias("snapshot"), "*")

    return (
        _fingerprint(read_table(spark, path, version=first), "v1_premerge")
        .unionAll(_fingerprint(read_table(spark, path), "v2_current"))
        .orderBy("snapshot")
    )


def jsonl_commit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-committed JSONL sink (``sources/jsonl_sink.py``)
    through the gate: write the documents table via TWO sequential
    ``mode("append")`` batch writes (split on ``doc_id % 2``), read back
    through the manifest view, and return every row. The oracle reads
    the documents table directly, so a hash match proves (a) JSONL
    serialization round-trips text bit-exactly and (b) the second
    append ACCUMULATES — the exact regression ADVICE r6 found, where a
    fixed batch id made append silently truncate-and-replace.

    Scale: shards stream executor-side (one file per task); the driver
    touches only the per-write manifest (a few KB). The read view lists
    manifest files only — uncommitted staging garbage is invisible.
    """
    import os
    from ..sources.jsonl_sink import JsonlCommitDataSource, read_jsonl_commit
    from ..tmputil import session_tmpdir

    spark.dataSource.register(JsonlCommitDataSource)
    path = os.path.join(session_tmpdir("jsonl_rt_"), "docs_sink")
    os.makedirs(path, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    for half in (0, 1):
        docs.filter(F.col("doc_id") % 2 == half).write.format(
            "jsonl_commit"
        ).mode("append").option("path", path).save()
    return (
        read_jsonl_commit(
            spark, path, schema="doc_id long, source string, text string"
        )
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
    )


def quarantine_ingest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-payload ingestion through the gate (VERDICT r10 item
    3): every 7th event's JSON payload ships TRUNCATED (closing brace
    cut — the classic mid-transfer corruption), plus the engine-side
    PERMISSIVE parse (``sources.quarantine``), the quarantine diversion
    into the manifest-committed JSONL dead-letter sink, and the
    read-back. Output: the per-type report computed from CLEAN rows
    only, plus a ``_quarantined`` bucket row whose count is read back
    FROM the dead-letter sink — so the hash proves (a) no malformed row
    leaked into the aggregate, (b) no clean row was dropped, and (c)
    the quarantine sink captured exactly the bad rows. The oracle knows
    which rows were corrupted (the same ``event_id % 7`` injection) and
    recomputes both halves relationally.

    Reference basis: ``dags/ FXRate_Reporting_Pipeline.py:27,46-48`` —
    arbitrary REST JSON guarded only by ``if not data``; this is the
    ingestion behavior the engine must own at scale.

    Scale: parse + split are row-local codegen expressions (no UDF, no
    shuffle); the dead-letter write streams executor-side shards with a
    KB-scale driver manifest; the report is one grouped aggregate.
    """
    import os

    from ..sources.jsonl_sink import JsonlCommitDataSource, read_jsonl_commit
    from ..sources.quarantine import parse_json_quarantine, quarantine_split
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir)
    raw = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        )
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = parse_json_quarantine(raw, "payload", "k BIGINT")
    clean, bad = quarantine_split(parsed)

    spark.dataSource.register(JsonlCommitDataSource)
    qpath = os.path.join(session_tmpdir("quarantine_"), "dead_letter")
    os.makedirs(qpath, exist_ok=True)
    bad.select("event_id", "event_type", "payload").write.format(
        "jsonl_commit"
    ).mode("append").option("path", qpath).save()

    report = clean.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").cast("bigint").alias("sum_k"),
    )
    quarantined = read_jsonl_commit(
        spark, qpath, schema="event_id long, event_type string, payload string"
    ).agg(
        F.lit("_quarantined").alias("event_type"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("bigint").alias("sum_k"),
    )
    return report.unionByName(quarantined).orderBy("event_type")


# --- sessionization (window-function showcase over the tick stream) ------


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user — the classic
    event-stream window pattern: lag → gap flag → running sum → session
    aggregation. Two window passes over one shuffle on user_id, then a
    grouped aggregate on (user_id, session_id): no extra exchanges.
    """
    ev = load_events(spark, sf_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > F.lit(SESSION_GAP_US), 1
        )
        .otherwise(0)
        .cast("bigint"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's *native* ``session_window`` operator
    (the built-in dual of ``sessionize_events``' lag/cumsum spelling) —
    one shuffle on user_id, sessions merged inside the aggregate, and the
    same operator carries unchanged into Structured Streaming.

    Boundary semantics (pinned in the oracle): a gap of exactly the
    timeout starts a NEW session (Spark merges only while next_ts <
    prev_ts + gap), and session_end = last event + gap, not last event.
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --- temporal joins: as-of + interval (beyond-reference operators) -------


def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution via as-of join: each purchase picks up the user's most
    recent at-or-before view. Read-side dual of the reference's
    latest-wins MERGE (``dags/fx_pipeline_with_merge.py:173-189``) — "the
    prevailing observation at time t".

    Scale: ``temporal.asof_join`` is the union-scan form — one exchange
    per side on user_id, one linear window pass, no per-key
    cross-product (the naive range-join spelling is quadratic on hot
    users).
    """
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    joined = asof_join(
        purchases, views, on="user_id", right_cols=["view_ts", "view_id"]
    )
    return joined.select(
        "event_id",
        "user_id",
        "view_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("view_ts").cast("timestamp"))
        ).alias("lag_us"),
    ).orderBy("event_id")


def views_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: views in the hour strictly before each
    purchase, per user. The equality on user_id keeps this a hash join
    with a range residual — never a nested-loop cross-product — so the
    cost at 100 TB is the user_id shuffle, same as any equi-join.
    """
    ev = load_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    cond = (
        (purchases.user_id == views.v_user)
        & (views.v_ts < purchases.ts)
        & (views.v_ts >= purchases.ts - F.expr("INTERVAL 1 HOUR"))
    )
    return (
        purchases.join(views, cond, "left")
        .groupBy("event_id", "user_id")
        .agg(F.count("v_ts").alias("n_views"))
        .orderBy("event_id")
    )


BURST_HALF_WINDOW_S = 60  # ±60 s global concurrency window


def burst_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range self-join (NO equi-key): for each event, how many
    events — of any user — landed within ±60 s, and their total value.
    The burst/concurrency primitive (fraud spikes, load bursts,
    co-occurrence features for training data).

    Unlike ``views_before_purchase`` there is no equality column to
    hash on, so Spark's native plan for the raw predicate is
    BroadcastNestedLoopJoin — all-pairs once both sides outgrow a
    broadcast. ``temporal.range_join`` bins time into 2-minute buckets
    (= the full window length, so each interval spans ≤2 bins),
    replicates intervals per covered bin JVM-side, and hash-joins on
    the bin with the exact ±60 s residual re-checked after — the
    cross-product never exists, and the plan is one exchange per side
    on ``__bin`` at any scale.

    Every event matches itself (closed bounds), so the inner join
    preserves all events; self is excluded from the aggregates by
    ``b_id <> a_id``.
    """
    ev = load_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    half = f"INTERVAL {BURST_HALF_WINDOW_S} SECONDS"
    intervals = ev.select(
        F.col("event_id").alias("a_id"),
        (F.col("ts") - F.expr(half)).alias("lo"),
        (F.col("ts") + F.expr(half)).alias("hi"),
    )
    points = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"),
    )
    pairs = range_join(
        intervals,
        points,
        "lo",
        "hi",
        "b_ts",
        bin_width_s=2 * BURST_HALF_WINDOW_S,
    )
    other = F.col("b_id") != F.col("a_id")
    return (
        pairs.groupBy("a_id")
        .agg(
            F.count(F.when(other, F.lit(1))).alias("n_nearby"),
            decimal_sum(
                F.when(other, F.col("b_value")).otherwise(F.lit(0.0))
            ).alias("nearby_value"),
        )
        .select(F.col("a_id").alias("event_id"), "n_nearby", "nearby_value")
        .orderBy("event_id")
    )


def session_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day, by sweep-line over the session
    intervals: +1 at each session start, −1 at each end, global running
    sum, max per day. The interval-overlap AGGREGATE dual of
    ``burst_events_window``'s pairwise join — counting overlaps needs no
    pair ever materialized, O(n log n) total.

    The running sum here is at event-row grain over ONE global order —
    the exact case where ``Window.orderBy`` with no partition collapses
    to a single task. ``relational.global_cumsum`` is the distributed
    form: range-repartition on the order key, per-partition prefix
    sums, then add the exclusive prefix of per-partition totals
    (#partitions rows through the driver, broadcast back).

    Tie rule pinned in both engines: at equal timestamps, starts sort
    before ends (``neg_delta`` ascending), so a session ending exactly
    when another starts counts both as concurrent (closed intervals) —
    and a single-event session (start == end) registers. Row-level
    running values within a tie group are order-arbitrary, but the
    daily MAX aggregates the group's value multiset, which is
    deterministic.
    """
    sessions = sessionize_events(spark, sf_dir)
    # one explode, not a union of two selects — a union would duplicate
    # the whole sessionize subtree in the plan (two scans, two session
    # shuffles); the explode emits both deltas from a single pass
    deltas = (
        sessions.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("session_start").alias("ts"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.col("session_end").alias("ts"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("d")
        )
        .select("d.ts", "d.delta")
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .withColumn("neg_delta", -F.col("delta"))
    )
    swept = global_cumsum(
        deltas, ["ts_us", "neg_delta"], "delta", out="active"
    )
    return (
        swept.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.max("active").alias("peak_concurrent"))
        .orderBy("day")
    )


def overlapping_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent session PAIRS across users, via the two-sided
    interval-overlap join: which multi-event sessions were active at
    the same time, and for how long. Completes the range-join family —
    point-in-interval (``burst_events_window``), overlap COUNT
    (``session_concurrency_daily``), and here the overlap pairs
    themselves.

    ``temporal.interval_overlap_join`` replicates both interval sets
    across 30-minute time bins and emits each overlapping pair exactly
    once (lowest-shared-bin guard — no post-join distinct, which would
    be a second shuffle of the join output). ``u1 < u2`` both
    de-symmetrizes pairs and drops self-pairs; same-user sessions never
    overlap by construction (gap-based sessionization separates them by
    more than the gap). Overlap duration is an exact integer µs
    difference of closed-bound endpoints.
    """
    sess = sessionize_events(spark, sf_dir).filter(F.col("n_events") >= 2)
    left = sess.select(
        F.col("user_id").alias("u1"),
        F.col("session_id").alias("s1"),
        F.col("session_start").cast("timestamp").alias("a_lo"),
        F.col("session_end").cast("timestamp").alias("a_hi"),
    )
    right = sess.select(
        F.col("user_id").alias("u2"),
        F.col("session_id").alias("s2"),
        F.col("session_start").cast("timestamp").alias("b_lo"),
        F.col("session_end").cast("timestamp").alias("b_hi"),
    )
    pairs = interval_overlap_join(
        left, right, "a_lo", "a_hi", "b_lo", "b_hi", bin_width_s=1800
    ).filter(F.col("u1") < F.col("u2"))
    return pairs.select(
        "u1",
        "s1",
        "u2",
        "s2",
        (
            F.unix_micros(F.least("a_hi", "b_hi"))
            - F.unix_micros(F.greatest("a_lo", "b_lo"))
        ).alias("overlap_us"),
    ).orderBy("u1", "s1", "u2", "s2")


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars per series — THE canonical FX/market report the
    reference's tick table exists to feed: open (first tick of the
    day), high, low, close (last tick), tick count. `events` stands in
    for the FX tick table as everywhere else ((ts, event_type, value) ≈
    (date, pair, rate), FIXTURES.md §C).

    Exactness is free: every output is a RAW tick value (no arithmetic
    chain), picked by deterministic (ts, event_id)-ordered windows —
    identical doubles in any engine. Plan: one hash exchange on
    (day, type) serves both row_number windows AND the final grouped
    aggregate (same keys), so the whole report is a single-shuffle
    pass at any scale.
    """
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    asc = Window.partitionBy("day", "event_type").orderBy("ts", "event_id")
    desc = Window.partitionBy("day", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    flagged = ev.withColumn(
        "rn_a", F.row_number().over(asc)
    ).withColumn("rn_d", F.row_number().over(desc))
    return (
        flagged.groupBy("day", "event_type")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("day", "event_type")
    )


def daily_returns_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series daily close-to-close returns and their volatility —
    the FX risk report built on the OHLC close series: r_d = close_d /
    close_{d-1} − 1, then mean and sample stddev of r per series.

    Scale shape: the tick scan reduces to one row per (day, series)
    first (the OHLC close pick — a single hash shuffle at any scale);
    the lag window and the moment sums then run on the tiny aggregated
    frame (days × series rows). Exactness: closes are raw tick doubles;
    the return is two correctly-rounded IEEE ops on identical inputs
    (identical everywhere); Σr and Σr² accumulate as scaled integers
    (decimal_sum) so the closed-form variance is partitioning- and
    engine-independent; sqrt is correctly rounded. Single-event days
    chain like any other day (lag just looks back one DAY ROW).
    """
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    desc = Window.partitionBy("day", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closes = (
        ev.withColumn("rn_d", F.row_number().over(desc))
        .filter(F.col("rn_d") == 1)
        .select("day", "event_type", F.col("value").alias("close"))
    )
    series = Window.partitionBy("event_type").orderBy("day")
    rets = closes.withColumn(
        "r", F.col("close") / F.lag("close").over(series) - F.lit(1.0)
    ).filter(F.col("r").isNotNull())
    agg = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        decimal_sum(F.col("r"), 12).alias("__sr"),
        decimal_sum(F.col("r") * F.col("r"), 12).alias("__sr2"),
    )
    mean_r = F.col("__sr") / F.col("__n")
    var_r = (
        F.col("__sr2") - F.col("__sr") * F.col("__sr") / F.col("__n")
    ) / (F.col("__n") - F.lit(1.0))
    return agg.select(
        "event_type",
        F.col("__n").cast("bigint").alias("n_days"),
        round_half_up(mean_r, 8).alias("mean_ret"),
        round_half_up(F.sqrt(var_r), 8).alias("volatility"),
    ).orderBy("event_type")


def max_drawdown_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the classic path-dependent risk
    measure: the deepest close-below-running-peak dip, with the day it
    bottomed. Same scale shape as the other OHLC derivatives: the tick
    scan collapses to one close per (day, series) in one shuffle, and
    the path logic (running max + argmin) runs on the tiny per-series
    day frame, partitioned by series — never a global window.

    Exactness: drawdown = close/peak − 1 is two correctly-rounded IEEE
    ops on raw tick doubles; the argmin day pins ties by earliest day
    (min day among rows attaining the minimum drawdown), identical in
    both engines.
    """
    ev = load_events(spark, sf_dir).select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    desc = Window.partitionBy("day", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closes = (
        ev.withColumn("rn_d", F.row_number().over(desc))
        .filter(F.col("rn_d") == 1)
        .select("day", "event_type", F.col("value").alias("close"))
    )
    path = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = closes.withColumn(
        "drawdown", F.col("close") / F.max("close").over(path) - F.lit(1.0)
    )
    # argmin without a join-back: the whole-partition min window runs on
    # the SAME event_type hash partitioning as the running-peak window
    # and the final groupBy, so the entire path logic is zero extra
    # exchanges after the closes shuffle
    whole = Window.partitionBy("event_type")
    bottomed = (
        dd.withColumn("__mdd", F.min("drawdown").over(whole))
        .filter(F.col("drawdown") == F.col("__mdd"))
        .groupBy("event_type")
        .agg(
            F.min("day").alias("trough_day"),
            F.min("drawdown").alias("__m"),
        )
    )
    return bottomed.select(
        "event_type",
        round_half_up(F.col("__m"), 8).alias("max_drawdown"),
        "trough_day",
    ).orderBy("event_type")


# --- window analytics: lag deltas + running totals (§2.5 extension) ------


def reorder_gap_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average days between consecutive orders per market segment:
    lag() per customer, then a broadcast dim join and grouped average.
    One shuffle on o_custkey for the window; customer broadcasts.
    Gap-days sum as BIGINT (exact), so the average is bit-stable.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .withColumn(
            "gap_days",
            F.datediff(F.col("o_orderdate"), F.col("prev_date")).cast("bigint"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(F.broadcast(cust), gaps.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            round_half_up(
                F.sum("gap_days").cast("double") / F.count("gap_days"), 4
            ).alias("avg_gap_days"),
            F.count("gap_days").alias("n_gaps"),
        )
        .orderBy("c_mktsegment")
    )


def cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue total per order status by month. Monthly sums
    accumulate as exact integer cents; the window running sum then adds
    BIGINTs — associative, so partitioning can't perturb a bit. The
    window input is the *aggregated* frame (≤ statuses × months rows),
    so the running-sum stage is trivially small at any raw-data scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.col("o_orderstatus"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("bigint")
        ).alias("__cents")
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "o_orderstatus",
        "month",
        (F.col("__cents").cast("double") / 100.0).alias("revenue"),
        (F.sum("__cents").over(w).cast("double") / 100.0).alias("cum_revenue"),
    ).orderBy("o_orderstatus", "month")


# --- TPC-H-shaped subquery joins (Q4 / Q17 analogs) ----------------------


def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shaped EXISTS: count 1996-Q3 orders per priority having at least
    one line item shipped after the order date. Planned as a left-semi
    join (existence short-circuits; no duplication), with the quarter
    filter pushed to the orders scan so lineitem only meets the
    surviving keys.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_LO))
        & (F.col("o_orderdate") < F.lit(Q4_HI))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    joined = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped correlated-average subquery: revenue from line items of
    one brand whose quantity is below 20% of that part's average.

    Plan: broadcast-semi the brand's part keys into the lineitem scan
    first (so the per-part average aggregates only the brand's slice,
    not all of lineitem), then broadcast the tiny per-part threshold
    frame back. Two broadcasts, one small shuffle — Q17 without ever
    re-scanning or re-shuffling the fact table.
    """
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(
        F.broadcast(part_keys), li.l_partkey == part_keys.p_partkey
    ).drop("p_partkey")
    thresh = li_b.groupBy("l_partkey").agg(
        (decimal_avg(F.col("l_quantity")) * F.lit(0.2)).alias("qty_thresh")
    )
    small = li_b.join(F.broadcast(thresh), "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_thresh")
    )
    return small.agg(
        round_half_up(
            decimal_sum(F.col("l_extendedprice"), wide=True) / F.lit(7.0), 2
        ).alias("avg_yearly")
    )


# --- skew-safe aggregation (two-phase salted; SURVEY.md §4 item 3) -------


def skew_safe_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + exact sum per event type via two-phase salted aggregation
    (``skew.salted_count_sum``): 5 hot keys spread over 16 salted
    reducers, then 16 tiny partials combine per key. Bit-identical to
    the one-phase aggregate because both phases add integers.
    """
    ev = load_events(spark, sf_dir)
    agg = salted_count_sum(
        ev, keys=["event_type"], value_col="value", salt_src="event_id"
    )
    return agg.select(
        "event_type",
        F.col("n_rows").alias("n_events"),
        "sum_value",
    ).orderBy("event_type")


def median_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group, spelled as rank arithmetic instead of an
    engine quantile function — implementations disagree on interpolation,
    but "the middle row(s) by a total order" is bit-portable: odd n takes
    rank (n+1)/2, even n averages ranks n/2 and n/2+1 (one commutative
    IEEE add + an exact halving). One shuffle on the group key.
    """
    orders = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wp = Window.partitionBy("o_orderstatus")
    ranked = orders.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("n div 2 + 1"))
    )
    return (
        mid.groupBy("o_orderstatus")
        .agg(
            (F.sum("o_totalprice") / F.count(F.lit(1))).alias("median_price")
        )
        .orderBy("o_orderstatus")
    )


QUERIES: dict[str, QueryFn] = {
    "daily_avg_report": daily_avg_report,
    "topk_recent_events": topk_recent_events,
    "avg_last10": avg_last10,
    "top_orders_by_date": top_orders_by_date,
    "count_guard_inlist": count_guard_inlist,
    "report_exists_guard": report_exists_guard,
    "json_field_extract": json_field_extract,
    "json_map_explode": json_map_explode,
    "latest_event_per_key": latest_event_per_key,
    "window_topk_per_customer": window_topk_per_customer,
    "setops_intersect": setops_intersect,
    "setops_except": setops_except,
    "setops_union": setops_union,
    "scalar_function_pack": scalar_function_pack,
    "pricing_summary": pricing_summary,
    "star_join_revenue": star_join_revenue,
    "shipping_priority": shipping_priority,
    "forecast_revenue": forecast_revenue,
    "distinct_parts_per_supplier": distinct_parts_per_supplier,
    "rollup_qty": rollup_qty,
    "cube_counts": cube_counts,
    "pivot_event_counts": pivot_event_counts,
    "merge_upsert_orders": merge_upsert_orders,
    "merge_sql_orders": merge_sql_orders,
    "merge_sql_sync_orders": merge_sql_sync_orders,
    "merge_sql_multi_clause": merge_sql_multi_clause,
    "idempotent_append_orders": idempotent_append_orders,
    "time_travel_orders": time_travel_orders,
    "jsonl_commit_roundtrip": jsonl_commit_roundtrip,
    "quarantine_ingest_events": quarantine_ingest_events,
    "sessionize_events": sessionize_events,
    "session_window_native": session_window_native,
    "asof_attribution": asof_attribution,
    "views_before_purchase": views_before_purchase,
    "burst_events_window": burst_events_window,
    "session_concurrency_daily": session_concurrency_daily,
    "overlapping_sessions": overlapping_sessions,
    "ohlc_daily": ohlc_daily,
    "daily_returns_volatility": daily_returns_volatility,
    "max_drawdown_series": max_drawdown_series,
    "reorder_gap_by_segment": reorder_gap_by_segment,
    "cumulative_monthly_revenue": cumulative_monthly_revenue,
    "order_priority_exists": order_priority_exists,
    "small_qty_revenue": small_qty_revenue,
    "skew_safe_event_counts": skew_safe_event_counts,
    "median_price_by_status": median_price_by_status,
}
