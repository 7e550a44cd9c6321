"""OLAP pack round 2: the remaining classic TPC-H plan shapes the
testdata star schema can express (no partsupp / shipmode / phone columns
in the driver's synthetic tables, so Q2/Q9/Q12/Q16/Q21 have no faithful
mapping; every other canonical shape is here or in ``queries.py``).

Each query exercises a *distinct* optimizer pattern at 100 TB:

- q7_volume_shipping   — double dimension broadcast (nation joined twice
                         under different roles) over a 4-way fact join
- q8_market_share      — conditional share-of-total inside one grouped
                         aggregate (no self-join, no second pass)
- q10_returned_revenue — quarter+flag filters before a fact-fact join,
                         grouped top-k with composite tiebreak
- q14_promo_share      — global conditional ratio over a partkey join
- q18_big_orders       — pre-aggregated semi-join (HAVING feeds the join
                         key set; the 100 TB shape for "big groups only")
- q19_or_pushdown      — OR-of-ANDs residual with the hand-derived
                         brand IN-list pushed to the part scan
- q22_idle_customers   — scalar-subquery threshold (broadcast one row) +
                         anti-join against a date-bounded order window

Reference basis: the reference's BigQuery engine runs arbitrary ANSI
SQL of exactly these shapes (SURVEY.md §2.4-§2.7); this pack widens the
engine's verified surface to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, read_parquet
from ..sources.events import load_events
from ..operators.relational import decimal_avg, decimal_sum, round_half_up
from .queries import QueryFn

Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_LO = "1996-01-01"
Q7_HI = "1998-01-01"
Q8_REGION = "EUROPE"
Q8_NATION = "NATION_7"
Q8_TYPE = "PROMO"
Q10_LO = "1996-01-01"
Q10_HI = "1996-04-01"
Q14_LO = "1996-06-01"
Q14_HI = "1996-07-01"
Q18_MIN_QTY = 300
Q19_BRANDS = (("Brand#1", 1, 5, 1, 11), ("Brand#2", 1, 10, 10, 20), ("Brand#3", 1, 15, 20, 30))
Q22_CUTOFF = "2000-01-01"

def _rev():
    # built lazily: Column construction needs an active session
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp_ntz")


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue flows between two nations by (supplier nation,
    customer nation, year).

    Scale: nation is broadcast twice (supplier role, customer role) — the
    fact-side join order is orders⋈lineitem⋈(customer, supplier) with the
    nation-pair filter applied as soon as both nationkeys are bound, so
    the grouped aggregate sees only the two flows.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(Q7_LO)) & (F.col("l_shipdate") < _ts(Q7_HI))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == Q7_NATION_A) & (F.col("cust_nation") == Q7_NATION_B))
        | ((F.col("supp_nation") == Q7_NATION_B) & (F.col("cust_nation") == Q7_NATION_A))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(round_half_up(decimal_sum(_rev(), wide=True), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue delivered into
    one region, per order year.

    The share is a *conditional sum over the same grouped pass* — never a
    second aggregation or self-join; both numerator and denominator
    accumulate as exact scaled integers so the division is bit-portable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat_rev = F.when(F.col("supp_nation") == Q8_NATION, _rev()).otherwise(F.lit(0.0))
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            round_half_up(
                decimal_sum(nat_rev, wide=True) / decimal_sum(_rev(), wide=True), 6
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter. Quarter + returnflag filters reach the scans before the
    fact-fact join; nation broadcasts; TakeOrderedAndProject caps the
    result without a global sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(Q10_LO)) & (F.col("o_orderdate") < _ts(Q10_HI))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(round_half_up(decimal_sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percentage of one month's revenue from PROMO parts.
    One partkey join, one global conditional ratio — numerator and
    denominator from the same exact-integer pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(Q14_LO)) & (F.col("l_shipdate") < _ts(Q14_HI))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == Q8_TYPE, _rev()).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            round_half_up(
                F.lit(100.0) * decimal_sum(promo, wide=True) / decimal_sum(_rev(), wide=True), 4
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: customers who placed very large orders. The HAVING
    aggregate runs *first* (one shuffle on l_orderkey, the fact table's
    natural key) and only qualifying keys flow into the joins — at
    100 TB the join input is the filtered key set, not the fact table.
    l_quantity is integral in this data, so the sum and the > cut are
    exact in double."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


def q19_or_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of brand/size/quantity conjunctions.
    The brand IN-list (the OR's common derivable predicate) is pushed to
    the part scan by hand — the part side shrinks to three brands before
    the join; the full OR evaluates as the join residual."""
    brands = [b for b, *_ in Q19_BRANDS]
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand").isin(brands))
    arm = None
    for b, size_lo, size_hi, q_lo, q_hi in Q19_BRANDS:
        c = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(size_lo, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        arm = c if arm is None else (arm | c)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm)
        .agg(
            round_half_up(decimal_sum(_rev(), wide=True), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders in
    the recent window, counted per nation. The global threshold is a
    1-row scalar aggregate (broadcast, not recomputed per row); the "no
    recent orders" test is a left-anti join — both are the shapes that
    survive when customer is 10⁹ rows."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        decimal_avg(F.col("c_acctbal"), wide=True).alias("avg_bal")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _ts(Q22_CUTOFF))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            round_half_up(decimal_sum(F.col("c_acctbal"), wide=True), 2).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


def window_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining window-function surface in one gated pass: ntile,
    percent_rank, cume_dist, first/last_value (full frame), lead. One
    shuffle on the partition key serves every function (same window
    spec); rank ratios are integer divisions evaluated identically as
    IEEE doubles in both engines, so no rounding is needed."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.first("o_totalprice").over(wf).alias("first_price"),
            F.last("o_totalprice").over(wf).alias("last_price"),
            F.datediff(
                F.lead("o_orderdate").over(w), F.col("o_orderdate")
            ).cast("long").alias("days_to_next"),
        )
        .orderBy("o_custkey", "rn")
    )


def stats_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed statistics per return flag: mean / sample
    variance / stddev / covariance / correlation, all derived from
    integer-exact moment sums (Σx, Σx², Σxy) so the closed-form results
    are bit-identical across engines and partitionings.

    Σ(qty·price) is accumulated with ``wide=True`` (DECIMAL(38,0)): at
    100 TB the scaled product sum exceeds int64, and the DuckDB side
    promotes to HUGEINT the same way — the documented wide-sum path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    # l_quantity is integral in this data: Σq and Σq² are exact BIGINTs
    sum_q = F.sum(F.col("l_quantity").cast("long"))
    sum_q2 = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("long"))
    sum_p = decimal_sum(F.col("l_extendedprice"), 2)
    sum_qp = decimal_sum(F.col("l_quantity") * F.col("l_extendedprice"), 2, wide=True)
    agg = li.groupBy("l_returnflag").agg(
        n.alias("__n"),
        sum_q.cast("double").alias("__sq"),
        sum_q2.cast("double").alias("__sq2"),
        sum_p.alias("__sp"),
        sum_qp.alias("__sqp"),
    )
    mean_q = F.col("__sq") / F.col("__n")
    var_q = (F.col("__sq2") - F.col("__sq") * F.col("__sq") / F.col("__n")) / (
        F.col("__n") - 1
    )
    cov_qp = (F.col("__sqp") - F.col("__sq") * F.col("__sp") / F.col("__n")) / (
        F.col("__n") - 1
    )
    return (
        agg.select(
            "l_returnflag",
            F.col("__n").cast("long").alias("n_rows"),
            round_half_up(mean_q, 4).alias("mean_qty"),
            round_half_up(var_q, 4).alias("var_qty"),
            round_half_up(F.sqrt(var_q), 4).alias("stddev_qty"),
            round_half_up(cov_qp, 2).alias("covar_qty_price"),
        )
        .orderBy("l_returnflag")
    )


def datetime_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar scalar surface: quarter/month/day/dayofweek/dayofyear,
    last_day, month truncation, day and month arithmetic, datediff vs an
    epoch — all row-local projections (codegen'd, zero shuffle).
    DuckDB numbers weekdays 0=Sunday vs Spark's 1=Sunday; the oracle
    compensates with +1."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
        F.last_day("o_orderdate").alias("month_end"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 3).alias("plus3d"),
        F.add_months(F.col("o_orderdate").cast("date"), 1).alias("plus1m"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch"),
    ).orderBy("o_orderkey")


def string_function_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string scalar pack: pad/translate/reverse/repeat,
    split_part, position, left/right slices, Levenshtein distance —
    row-local, codegen'd, shared semantics with DuckDB on ASCII input."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lpad("c_name", 22, "*").alias("lp"),
        F.rpad("c_name", 22, ".").alias("rp"),
        F.translate("c_name", "Cust", "KUST").alias("tr"),
        F.reverse(F.col("c_name")).alias("rev"),
        F.repeat(F.substring("c_name", 1, 2), 2).alias("rep"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.instr(F.col("c_name"), "#").cast("long").alias("hash_pos"),
        F.expr("left(c_name, 8)").alias("l8"),
        F.expr("right(c_name, 6)").alias("r6"),
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000000"))
        .cast("long")
        .alias("lev"),
    ).orderBy("c_custkey")


QUANTILES = (0.25, 0.5, 0.75, 0.95)


def quantile_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile per group, percentile_disc-style: the value
    at rank ⌈p·n⌉ of the (price, key) total order. Engine quantile
    functions disagree on interpolation; the rank pick is bit-portable
    and needs one shuffle + one window pass for all four quantiles (the
    conditional-min trick collapses them into a single aggregate)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_orderstatus")
    ranked = orders.select(
        "o_orderstatus",
        "o_totalprice",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("rn") == F.greatest(
                    F.lit(1), F.ceil(F.lit(p) * F.col("n"))
                ),
                F.col("o_totalprice"),
            )
        ).alias(f"p{int(p * 100)}")
        for p in QUANTILES
    ]
    return ranked.groupBy("o_orderstatus").agg(*aggs).orderBy("o_orderstatus")


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE/data-quality surface): row count,
    null counts, exact distinct cardinalities, min/max per column — one
    scan, one aggregate row. At 100 TB the exact COUNT(DISTINCT o_custkey)
    is the only expensive term (Spark expands it to a partial distinct
    aggregate); swap in approx_count_distinct when a 2% error is
    acceptable — kept exact here because the oracle must match."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )


SCD2_T0 = "1995-01-01 00:00:00"
SCD2_EFF = "2026-01-01 00:00:00"


def scd2_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (history-keeping MERGE) through the gate: a deterministic
    batch mutates every third order's status; changed keys get their
    current version closed at the effective timestamp and a new current
    version opened, unchanged keys pass through untouched. The oracle
    reproduces the split/close/open algebra in plain SQL."""
    from ..operators.writers import scd2_apply

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("v"),
        F.lit(SCD2_T0).cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    batch = orders.select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.concat("o_orderstatus", F.lit("+"))
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("v"),
    )
    out = scd2_apply(target, batch, keys=["k"], effective_ts=SCD2_EFF)
    return out.orderBy("k", "valid_from")


Q5_REGION = "ASIA"
Q5_LO = "1996-01-01"
Q5_HI = "1997-01-01"
Q13_EXCLUDE = "1-URGENT"
Q15_LO = "1996-01-01"
Q15_HI = "1996-04-01"


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue from orders where the customer and the supplier
    sit in the same nation, one region, one year — per nation.

    Scale: the region→nation chain prunes to a handful of nationkeys
    that broadcast; the c_nationkey = s_nationkey locality predicate
    binds as part of the supplier join condition, so mismatched rows die
    inside the join instead of surviving to a filter.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts(Q5_LO)) & (F.col("o_orderdate") < _ts(Q5_HI))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(round_half_up(decimal_sum(_rev(), wide=True), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, zero-order
    customers included — the left-outer-join-with-join-side-filter shape
    (the priority filter must live in the join, not a WHERE, or the
    zero-order bucket vanishes).

    Scale: two grouped aggregates; the first shuffles on c_custkey (the
    join key, so AQE reuses the exchange), the second on the tiny
    c_count domain.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != Q13_EXCLUDE
    ).select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — the
    aggregate-then-scalar-max-subquery shape. The max is one row,
    broadcast back over the per-supplier revenues; exact fixed-point
    accumulation makes the double equality engine-portable.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(Q15_LO)) & (F.col("l_shipdate") < _ts(Q15_HI))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        decimal_sum(_rev()).alias("revenue_raw")
    )
    top = rev.agg(F.max("revenue_raw").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("revenue_raw") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            round_half_up(F.col("revenue_raw"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def resample_daily_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + forward-fill through the gate: the per-type daily
    average rate densified to every calendar day (FX semantics: publish
    yesterday's rate on days with no ticks). ``n_ticks`` stays null on
    filled rows so consumers can tell observed from carried."""
    from ..operators.temporal import resample_ffill
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    daily = (
        ev.groupBy(
            F.col("event_type"), F.to_date("ts").alias("d")
        )
        .agg(
            round_half_up(decimal_avg(F.col("value")), 4).alias("avg_rate"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    filled = resample_ffill(daily, "event_type", "d", ["avg_rate"])
    return filled.select(
        "event_type", "d", "avg_rate", "n_ticks"
    ).orderBy("event_type", "d")


def conditional_agg_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface per order status: count_if,
    bool_or/bool_and (ANY/EVERY), DISTINCT aggregation — one grouped
    pass; DISTINCT adds its own partial de-dup shuffle, flagged here on
    purpose as the expensive variant."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 100_000).alias("n_big"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.count_distinct(F.col("o_orderpriority")).alias("n_priorities"),
            F.sum_distinct(F.year("o_orderdate").cast("bigint")).alias(
                "sum_distinct_years"
            ),
        )
        .orderBy("o_orderstatus")
    )


def null_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics surface: coalesce / nullif / nvl2 plus null-safe
    equality — the expressions ETL cleaning layers live on. (NaN/∞
    handling is deliberately absent: engines disagree on float-error
    semantics, the pinned-ANSI + try_ stack covers those paths.)
    Row-local, codegen'd; DuckDB twins are exact."""
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("view")), F.lit("(hidden)")
        ).alias("type_or_hidden"),
        F.nvl2(
            F.nullif((F.col("event_id") % 3), F.lit(0)),
            F.lit("nonzero"),
            F.lit("zero"),
        ).alias("mod3_class"),
        (F.nullif(F.col("user_id") % 2, F.lit(0)).eqNullSafe(F.lit(None))).alias(
            "even_user"
        ),
    ).orderBy("event_id")


FUZZY_MAX_EDITS = 1


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (record linkage): customer-name pairs
    within edit distance 1, *blocked by nation* so the quadratic
    comparison runs per block, never corpus-wide — the same
    candidate-bounding idea as LSH banding, with equi-join blocking
    instead of hashing. levenshtein() evaluates JVM-side inside the
    joined block; at 100 TB the block key is the shuffle key and block
    sizes bound task cost."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("key_a"),
        F.col("c_name").alias("name_a"),
    )
    b = cust.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("key_b"),
        F.col("c_name").alias("name_b"),
    )
    return (
        a.join(b, "nk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn(
            "edits", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("edits") <= FUZZY_MAX_EDITS)
        .select("key_a", "key_b", "edits")
        .orderBy("key_a", "key_b")
    )


def richest_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax via the ``max_by`` aggregate (no window, no
    self-join — one grouped pass). Both engines leave max_by ties
    unspecified, so the ordering key is a composed integer
    (cents·10⁷ + custkey) that makes the pick total and identical."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    ordkey = (
        F.floor(F.col("c_acctbal") * 100).cast("bigint") * 10_000_000
        + F.col("c_custkey")
    )
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.max_by(F.col("c_custkey"), ordkey).alias("top_custkey"),
            round_half_up(F.max("c_acctbal"), 2).alias("max_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


HIST_LO = 0.0
HIST_WIDTH = 5000.0
HIST_BINS = 12


def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: floor-arithmetic binning
    (portable — no engine-specific width_bucket), top-clamped into the
    last bin. One grouped count over a row-local bin projection; the bin
    id doubles as the partition key if the histogram feeds a sketch."""
    orders = load_table(spark, sf_dir, "orders")
    bin_raw = F.floor((F.col("o_totalprice") - HIST_LO) / HIST_WIDTH)
    bin_id = F.least(bin_raw, F.lit(HIST_BINS - 1)).cast("bigint")
    return (
        orders.select(bin_id.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("bin_lo", F.col("bin") * HIST_WIDTH + HIST_LO)
        .orderBy("bin")
    )


EWMA_SPAN = 5
# Unnormalized EWMA weights for alpha = 0.5, oldest → newest: 2^-(k-1-i).
# Powers of two are exactly representable, so both engines multiply the
# *identical* doubles in the identical order — no libm pow() divergence.
EWMA_WEIGHTS = [2.0 ** -(EWMA_SPAN - 1 - i) for i in range(EWMA_SPAN)]


def ewma_daily_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily rate per type —
    the FX smoothing every trading report publishes. Bounded-span form
    (last 5 days, alpha=0.5): the unbounded recursion becomes a window
    ``collect_list`` + in-row weighted fold, linear and shuffle-bounded
    (one exchange on event_type). Weights are power-of-two literals in
    both engines so the double arithmetic is bit-identical."""
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(decimal_avg(F.col("value")).alias("avg_rate"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(EWMA_SPAN - 1), 0)
    )
    wlist = "array(" + ", ".join(repr(x) for x in EWMA_WEIGHTS) + ")"
    windowed = daily.withColumn("vs", F.collect_list("avg_rate").over(w))
    ewma = F.expr(
        f"""
        aggregate(
          zip_with(vs, slice({wlist}, {EWMA_SPAN} - size(vs) + 1, size(vs)),
                   (v, wt) -> v * wt),
          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
        / aggregate(slice({wlist}, {EWMA_SPAN} - size(vs) + 1, size(vs)),
                    CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
        """
    )
    return windowed.select(
        "event_type",
        "d",
        round_half_up(F.col("avg_rate"), 4).alias("avg_rate"),
        round_half_up(ewma, 4).alias("ewma_rate"),
    ).orderBy("event_type", "d")


ZSCORE_WIN = 7


def anomaly_zscore_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags on the daily rate: each day scored
    against the trailing 7-day mean/stddev of its type — the monitoring
    alert every rate pipeline runs. Per-day partials (count, scaled-int
    sum, scaled-int sum-of-squares) window-sum exactly; the variance
    algebra then runs in doubles with identical operand order in both
    engines. One exchange on event_type."""
    from pyspark.sql import Window

    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(
        F.count("value").alias("n"),
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5))
        .cast("bigint")
        .alias("su"),
        F.sum(F.floor(F.col("value") * F.col("value") * 1000.0 + 0.5))
        .cast("bigint")
        .alias("sq"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(ZSCORE_WIN - 1), 0)
    )
    rolled = daily.select(
        "event_type",
        "d",
        (F.col("su").cast("double") / 1000000.0 / F.col("n")).alias("day_avg"),
        F.sum("n").over(w).alias("rn"),
        F.sum("su").over(w).alias("rsu"),
        F.sum("sq").over(w).alias("rsq"),
    )
    mean = F.col("rsu").cast("double") / 1000000.0 / F.col("rn")
    ex2 = F.col("rsq").cast("double") / 1000.0 / F.col("rn")
    var = ex2 - mean * mean
    z = (F.col("day_avg") - mean) / F.sqrt(var)
    return rolled.select(
        "event_type",
        "d",
        round_half_up(F.col("day_avg"), 4).alias("day_avg"),
        round_half_up(mean, 4).alias("roll_mean"),
        round_half_up(z, 4).alias("zscore"),
        (F.abs(z) > 2.0).alias("is_anomaly"),
    ).orderBy("event_type", "d")


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff through the gate: today's orders vs a
    deterministically mutated tomorrow (every 7th status flips, every
    13th row deleted, one synthetic insert per deleted key) →
    insert/delete/update change feed (``relational.table_diff``). The
    oracle rebuilds the same mutation and diffs with FULL OUTER JOIN
    algebra."""
    from ..operators.relational import table_diff

    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mutated = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.concat("o_orderstatus", F.lit("*"))
            ).otherwise(F.col("o_orderstatus")),
        )
    )
    inserts = (
        old.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(0.0).alias("o_totalprice"),
        )
    )
    new = mutated.unionByName(inserts)
    d = table_diff(old, new, ["o_orderkey"])
    return d.select(
        "o_orderkey",
        "change_type",
        F.col("_old.o_orderstatus").alias("old_status"),
        F.col("_new.o_orderstatus").alias("new_status"),
    ).orderBy("o_orderkey")


def unreferenced_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality / coverage anti-join: parts with no shipment in a
    given month (dead catalog rows for that window). Left-anti on the
    date-filtered fact table — the filter prunes the fact scan first, so
    the join build side is the month's distinct keys, not the table."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts(Q14_LO)) & (F.col("l_shipdate") < _ts(Q14_HI))
    ).select("l_partkey")
    return (
        part.join(li, part["p_partkey"] == li["l_partkey"], "left_anti")
        .orderBy("p_partkey")
    )


def incremental_daily_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance through the gate: the daily
    report built by folding three arbitrary batches into mergeable
    (sum_u, n) state — the no-history-rescan pattern
    (``operators.incremental``). The oracle aggregates the full table
    directly in one pass; hash-equality certifies the incremental
    algebra is exact, not approximately convergent."""
    from ..operators.incremental import (
        finish_avg,
        merge_avg_state,
        partial_avg_state,
    )
    from ..sources.events import load_events

    keys = ["report_date", "event_type"]
    ev = load_events(spark, sf_dir).select(
        F.to_date("ts").alias("report_date"), "event_type", "value", "event_id"
    )
    batches = [
        ev.filter(F.pmod(F.hash("event_id"), F.lit(3)) == i) for i in range(3)
    ]
    state = partial_avg_state(batches[0], keys, "value")
    for b in batches[1:]:
        state = merge_avg_state(state, partial_avg_state(b, keys, "value"), keys)
    return finish_avg(state).select(
        "report_date", "event_type", "sum_u", "n", "avg_value"
    ).orderBy("report_date", "event_type")


def ivm_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-aggregate (materialized-view
    maintenance for the star query): per-segment revenue over
    orders ⋈ customer, maintained by delta propagation instead of
    recompute. The base state (6/7 of orders, joined and folded to
    mergeable per-segment (sum_u, n)) is MATERIALIZED to parquet — the
    stored view; the delta batch (the remaining 1/7) joins the dim and
    folds into the stored state with ``merge_avg_state``. The oracle
    recomputes the full join-aggregate in one pass; hash-equality
    certifies ΔT ⋈ S folded into stored(T ⋈ S) equals (T ∪ ΔT) ⋈ S
    exactly — insert-only delta propagation, the standard IVM identity.

    Scale: the maintenance pass reads ONLY the delta and the stored
    state (segment-cardinality rows); the 100 TB base join is never
    re-touched. The delta-side join broadcasts the dim (or, dim-keyed,
    prunes to the delta's key range); state folding is one grouped
    integer sum over |segments| + |delta groups| rows.
    """
    import os
    from ..tmputil import session_tmpdir

    from ..operators.incremental import (
        finish_avg,
        merge_avg_state,
        partial_avg_state,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))

    def seg_state(fact: DataFrame) -> DataFrame:
        return partial_avg_state(
            fact.join(dim, fact["o_custkey"] == dim["c_custkey"]),
            ["c_mktsegment"],
            "o_totalprice",
        )

    state_path = os.path.join(
        session_tmpdir("ivm_state_"), "segment_state"
    )
    seg_state(orders.filter(F.col("o_orderkey") % 7 != 0)).write.parquet(
        state_path
    )
    stored = read_parquet(spark, state_path)
    delta = orders.filter(F.col("o_orderkey") % 7 == 0)
    merged = merge_avg_state(stored, seg_state(delta), ["c_mktsegment"])
    return (
        finish_avg(merged, round_to=2, out="avg_price")
        .select("c_mktsegment", "n", "sum_u", "avg_price")
        .orderBy("c_mktsegment")
    )


def ivm_join_revenue_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM with UPDATE/DELETE retractions (VERDICT r06 item 6) — the
    missing half of :func:`ivm_join_revenue`'s insert-only story. The
    stored view is the per-segment (sum_u, n) state over the FULL
    orders ⋈ customer join; a CDC batch then deletes every order with
    ``o_orderkey % 13 = 0`` and re-prices every surviving order with
    ``% 11 = 0`` (+1000.00). Each CDC row lowers to signed delta rows —
    delete → weight −1, update → retract-old (−1) + insert-new (+1) —
    folded through ``signed_partial_state`` into the same ⊕ merge the
    insert path uses. The oracle recomputes the POST-CDC join-aggregate
    from scratch; hash-equality certifies the retraction algebra lands
    bit-identically on the full recompute.

    Scale: identical to the insert-only twin — the maintenance pass
    reads only the CDC batch (joined against the broadcast dim) and the
    |segments|-row stored state; the base join is never re-touched.
    Signed weights add no shuffle: they ride the same grouped integer
    sum. A fully-retracted group exits via the n > 0 filter.
    """
    import os
    from ..tmputil import session_tmpdir

    from ..operators.incremental import (
        finish_avg,
        merge_avg_state,
        partial_avg_state,
        signed_partial_state,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))

    # stored view: the full base, materialized (the "100 TB" side)
    state_path = os.path.join(session_tmpdir("ivm_retract_"), "segment_state")
    partial_avg_state(
        orders.join(dim, orders["o_custkey"] == dim["c_custkey"]),
        ["c_mktsegment"],
        "o_totalprice",
    ).write.parquet(state_path)
    stored = read_parquet(spark, state_path)

    # CDC batch → signed delta rows (the shared recipe — the contract
    # every IVM twin's oracle mirrors; see incremental.signed_cdc_batch)
    from ..operators.incremental import signed_cdc_batch

    base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    cdc = signed_cdc_batch(base, "o_totalprice")

    delta = signed_partial_state(
        cdc.join(dim, cdc["o_custkey"] == dim["c_custkey"]),
        ["c_mktsegment"],
        "o_totalprice",
        weight="__w",
    )
    merged = merge_avg_state(stored, delta, ["c_mktsegment"]).filter(
        F.col("n") > 0
    )
    return (
        finish_avg(merged, round_to=2, out="avg_price")
        .select("c_mktsegment", "n", "sum_u", "avg_price")
        .orderBy("c_mktsegment")
    )


def ivm_minmax_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for NON-invertible aggregates (min/max) under delete/update
    CDC — the boundary ``signed_partial_state`` cannot cross (VERDICT
    r07 item 6): a deletion cannot be folded out of a stored min/max,
    so the maintenance plan splits per group:

    - **insert-only groups** fold cheaply: ``least(stored_min,
      insert_min)`` / ``greatest(stored_max, insert_max)`` — no base
      access, same as the sum/count path;
    - **boundary-touching groups** — a delete whose value equals the
      stored extreme may expose a new one (and duplicates mean it may
      not) — are recomputed from the post-CDC base, but ONLY those
      groups (semi-join prune). Deletes that don't touch a boundary
      leave the extreme unchanged and take the cheap path too.

    Same CDC recipe as :func:`ivm_join_revenue_retract` (delete
    ``%13``, re-price ``%11`` as delete-old+insert-new). The oracle
    recomputes post-CDC min/max from scratch; hash-equality certifies
    the split maintenance lands exactly on the full recompute.

    Scale: the stored state is |segments| rows; the recompute leg scans
    only partitions of affected groups (segment-clustered layout prunes
    the rest), and "affected" is the rare case — extremes are touched
    by a vanishing fraction of deletes at 100 TB. Reference analog: the
    report recompute cadence (`README.md:98`) — this replaces the full
    rescan with a bounded one.

    Plan shape (VERDICT r08 item 2): ``base`` is derived ONCE and
    ``localCheckpoint``ed — the state build, the CDC delta leg and the
    recompute leg all read the cached blocks instead of re-deriving the
    orders ⋈ customer subtree (the r8 plan re-derived it four times:
    56 scans / 13 exchanges). r16 (VERDICT r15 item 8): the %13/%11 CDC
    membership is a pure function of o_orderkey, so the materialized
    key table and its semi/anti joins are gone — deletes and inserts
    are predicate filters, and the delete-batch + insert-batch extremes
    come from ONE conditional-aggregation pass instead of two grouped
    legs (22 → 14 jobs; same values, min/max ignore the CASE NULLs).
    """
    import os
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    base = (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_mktsegment", F.col("o_totalprice").alias("price"))
        .localCheckpoint(eager=False)  # reused by 4 legs; derive once
    )

    # stored view: per-group extremes over the full base, materialized
    state_path = os.path.join(session_tmpdir("ivm_minmax_"), "extrema_state")
    base.groupBy("c_mktsegment").agg(
        F.min("price").alias("min_price"), F.max("price").alias("max_price")
    ).write.parquet(state_path)
    stored = read_parquet(spark, state_path)

    # CDC: delete %13; update %11 = delete-old + insert-new (+1000.00).
    # Both predicates are pure functions of o_orderkey, so the delete
    # set needs no materialized key table: membership IS the predicate
    # (r16, VERDICT r15 item 8 — the key-table semi/anti joins and the
    # two separate delta aggregations folded into predicate filters and
    # ONE conditional-aggregation pass over the checkpointed base; a
    # production CDC batch arrives as rows and takes the batch-grain
    # aggregate exactly the same way).
    is_del = (F.col("o_orderkey") % 13 == 0) | (F.col("o_orderkey") % 11 == 0)
    is_ins = (F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") % 13 != 0)
    ins_rows = base.filter(is_ins).withColumn(
        "price", F.col("price") + F.lit(1000.0)
    )

    # one grouped pass computes the delete-batch AND insert-batch
    # extremes (min/max ignore the NULLs the CASE arms produce — same
    # values the two per-leg aggregations yielded)
    cdc_b = base.groupBy("c_mktsegment").agg(
        F.min(F.when(is_del, F.col("price"))).alias("d_min"),
        F.max(F.when(is_del, F.col("price"))).alias("d_max"),
        F.min(F.when(is_ins, F.col("price") + F.lit(1000.0))).alias("i_min"),
        F.max(F.when(is_ins, F.col("price") + F.lit(1000.0))).alias("i_max"),
    )
    folded = (
        stored.join(cdc_b, "c_mktsegment", "left")
        # |segments| rows; read by both the cheap path and the affected
        # prune — checkpoint so the delta aggregation runs once
        .localCheckpoint(eager=False)
    )
    touches = (F.col("d_min") <= F.col("min_price")) | (
        F.col("d_max") >= F.col("max_price")
    )
    # cheap path: no delete touched this group's boundary — extremes can
    # only move by inserts (F.least/greatest skip NULL legs)
    cheap = folded.filter(~F.coalesce(touches, F.lit(False))).select(
        "c_mktsegment",
        F.least("min_price", "i_min").alias("min_price"),
        F.greatest("max_price", "i_max").alias("max_price"),
    )
    # recompute path: post-CDC base, pruned to affected groups only
    affected = folded.filter(F.coalesce(touches, F.lit(False))).select(
        "c_mktsegment"
    )
    recomputed = (
        base.filter(~is_del)
        .unionByName(ins_rows)
        .join(F.broadcast(affected), "c_mktsegment", "left_semi")
        .groupBy("c_mktsegment")
        .agg(
            F.min("price").alias("min_price"),
            F.max("price").alias("max_price"),
        )
    )
    return cheap.unionByName(recomputed).orderBy("c_mktsegment")


def ivm_distinct_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for COUNT(DISTINCT …) under delete/update CDC — the third
    non-invertible family member after min/max (r8) and the signed
    sum/count/avg path: a deleted row only lowers the distinct count if
    it was the key's LAST supporting row, so the maintained state is
    the SUPPORT COUNT table (group, key, cnt) — the textbook exact
    solution — and the CDC batch folds as signed support deltas.
    Distinct = |{key : cnt > 0}| per group; no base re-touch, ever
    (unlike min/max there is no recompute leg — support counting makes
    deletion exactly invertible).

    CDC recipe shared with the IVM twins: delete ``%13``; reprice
    ``%11`` = delete-old + insert-new of the SAME key, which must net
    to zero support — the query proves that invariant too. The oracle
    recomputes post-CDC ``count(distinct)``/``count(*)`` from scratch;
    hash-equality certifies the support algebra lands exactly.

    Scale: the state is |distinct (group, key)| rows — the irreducible
    cost of exact distinct maintenance (the approximate alternative is
    the HLL sketch, ``operators/sketch.py``, which cannot handle
    deletes); the maintenance pass touches only CDC keys (broadcast
    dim join + one grouped signed sum), and the final count is a
    |state|-row aggregation. Reference analog: the report recompute
    cadence (`README.md:98`) — replaced by bounded maintenance.
    """
    import os
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))
    base = (
        orders.select("o_orderkey", "o_custkey")
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        # read by the state build + three CDC legs — derive once (the
        # ivm_minmax_recompute plan lesson, VERDICT r08 item 2)
        .localCheckpoint(eager=False)
    )

    # stored state: support counts per (segment, custkey), materialized
    state_path = os.path.join(session_tmpdir("ivm_distinct_"), "support")
    base.groupBy("c_mktsegment", "o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    ).write.parquet(state_path)
    stored = read_parquet(spark, state_path)

    # CDC batch → signed support deltas via the shared recipe; no value
    # column, so the reprice legs re-emit the key and must net to zero
    from ..operators.incremental import signed_cdc_batch

    cdc = signed_cdc_batch(base)
    delta = cdc.groupBy("c_mktsegment", "o_custkey").agg(
        F.sum("__w").cast("bigint").alias("cnt")
    )
    merged = (
        stored.unionByName(delta)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_custs"),
            F.sum("cnt").cast("bigint").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


def regression_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key ordinary-least-squares trend (the regr_slope/regr_intercept
    surface) computed ENGINE-EXACTLY: value regressed on day index per
    event type, with every moment (n, Σx, Σx², Σu, Σxu; u = value
    scaled to integer micro-units) accumulated as exact integers in one
    grouped pass — associative, partitioning-independent — and the
    slope/intercept derived as integer rationals with the half-up 6-dp
    round done in DECIMAL(38,0) cross-multiplication
    (``(2·|num| + den) div (2·den)``, sign reapplied) followed by ONE
    double division by 1e6. Native regr_* aggregates are double
    accumulations whose low bits vary with partitioning — unusable for
    cross-engine hashing; this is the exact-moments form of the same
    math.

    Scale: one shuffle of 5 integer moments per (partition, key) —
    map-side partials apply; the rational finish is per-group scalar
    work. DECIMAL(38,0) headroom: |n·Σxu·Σx| stays < 1e38 up to ~1e8
    rows/group at these value magnitudes; past that ANSI mode raises
    loudly rather than wrapping (the repo-wide overflow contract).
    """
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("u"),
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum("u").alias("su"),
        F.sum(F.expr("x * u")).alias("sxu"),
    )
    dec = "decimal(38,0)"
    finished = m.select(
        "event_type",
        "n",
        F.expr(
            f"CAST(n AS {dec}) * CAST(sxu AS {dec})"
            f" - CAST(sx AS {dec}) * CAST(su AS {dec})"
        ).alias("__num"),
        F.expr(
            f"CAST(n AS {dec}) * CAST(sxx AS {dec})"
            f" - CAST(sx AS {dec}) * CAST(sx AS {dec})"
        ).alias("__den"),
        F.col("su").cast(dec).alias("__su"),
        F.col("sx").cast(dec).alias("__sx"),
    ).select(
        "event_type",
        "n",
        "__num",
        "__den",
        # intercept rational: (Σu·den − num·Σx) / (den·n)
        F.expr("__su * __den - __num * __sx").alias("__bnum"),
        F.expr(f"__den * CAST(n AS {dec})").alias("__bden"),
    )

    def _micro(num: str, den: str) -> Column:
        half_up = f"(2 * abs({num}) + {den}) div (2 * {den})"
        sign = f"CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
        return F.expr(
            f"CASE WHEN {den} = 0 THEN NULL"
            f" ELSE CAST({sign} * ({half_up}) AS DOUBLE) / 1000000.0 END"
        )

    return finished.select(
        "event_type",
        "n",
        _micro("__num", "__den").alias("slope"),
        _micro("__bnum", "__bden").alias("intercept"),
    ).orderBy("event_type")


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — the product-analytics staple the
    reference's report table can't express: per user, the greedy
    earliest chain view → click-after-view → purchase-after-click
    (each step's timestamp strictly after the previous step's matched
    one), rolled up to per-step user counts and step-to-step conversion
    rates. Rates are half-up 6-dp integer rationals (the repo's
    cross-multiplied div convention) — no double enters the math until
    the final power-of-ten division.

    Plan: ONE hash exchange on user_id, then three stacked conditional
    window-mins over that same partitioning (each step's cutoff is the
    previous window column — no joins, no recomputed subtrees), a
    partitioning-reusing per-user rollup, and one scalar aggregate. A
    join formulation re-derives each step's frame per consumer; the
    window form expresses the sequential dependency in a single pass —
    user-partitioned embarrassingly parallel work at 100 TB.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    w = Window.partitionBy("user_id")
    typed = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        ev.withColumn("t1", F.min(F.when(typed("view"), F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(
                F.when(typed("click") & (F.col("ts") > F.col("t1")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    typed("purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )
    dec = "decimal(38,0)"

    def _rate(num: str, den: str) -> Column:
        return F.expr(
            f"CASE WHEN {den} = 0 THEN NULL"
            f" ELSE CAST((2 * CAST({num} AS {dec}) * 1000000"
            f"       + CAST({den} AS {dec}))"
            f"      div (2 * CAST({den} AS {dec})) AS DOUBLE) / 1000000.0"
            f" END"
        )

    return counts.select(
        "n_view",
        "n_click",
        "n_purchase",
        _rate("n_click", "n_view").alias("view_to_click"),
        _rate("n_purchase", "n_click").alias("click_to_purchase"),
    )


def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (the product-analytics triangle): users grouped
    by first-activity week, then for each later week the share still
    active. Week buckets are ``days-since-epoch-date div 7`` — exact
    integer bucketing, immune to the engines' differing ISO-week rules.
    Retention is the half-up 6-dp integer rational n_active/n_cohort
    (one final power-of-ten double division).

    Plan: ONE data-sized hash exchange on user_id; the (user, week)
    distinct and the cohort-assignment window both reuse it
    (hash(user) satisfies the clustered distribution of any superset
    key set). Cohort sizes need no second branch at all: every user is
    active in their own first week, so n_cohort IS the triangle's
    week_offset = 0 diagonal, lifted onto each cohort row by a window
    max over the |weeks|²-row rollup — no join, no recomputed subtree.
    At 100 TB: one data-sized shuffle total.
    """
    from pyspark.sql import Window

    activity = (
        load_events(spark, sf_dir)
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
                / F.lit(7)
            )
            .cast("bigint")
            .alias("week_idx"),
        )
        .repartition("user_id")
        .distinct()
    )
    wcoh = activity.withColumn(
        "cohort_week", F.min("week_idx").over(Window.partitionBy("user_id"))
    )
    tri = wcoh.groupBy(
        "cohort_week",
        (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    triangle = tri.withColumn(
        "n_cohort",
        F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(
            Window.partitionBy("cohort_week")
        ),
    )
    dec = "decimal(38,0)"
    return triangle.select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        F.expr(
            f"CAST((2 * CAST(n_active AS {dec}) * 1000000"
            f"      + CAST(n_cohort AS {dec}))"
            f"     div (2 * CAST(n_cohort AS {dec})) AS DOUBLE) / 1000000.0"
        ).alias("retention"),
    ).orderBy("cohort_week", "week_offset")


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the most frequent part PAIRS bought
    in one order (the support counts behind association-rule mining).
    The pair generation is a within-order self-join with ``a < b`` —
    fan-out bounded by per-basket size k (Σ k(k−1)/2, k ≤ 7 in this
    schema), NOT an n² blowup: the join keys on the order, so cost
    tracks basket density exactly like the LSH band joins track
    duplicate density. Top-20 by support with a total (pair) tiebreak.

    Scale: distinct + self-join + rollup all hash on bounded-fanout
    keys; a hot basket cannot exist (k is bounded by basket size), so
    no salting is needed. TakeOrderedAndProject caps the result motion.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part_b")
    )
    pairs = a.join(b, "okey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as a Gini coefficient over per-customer
    revenue — the inequality statistic whose textbook form needs a
    GLOBAL ascending rank: G = (2·Σ(i·uᵢ) − (n+1)·Σu) / (n·Σu). The
    rank is computed with ``relational.global_cumsum`` over a constant-1
    column (range repartition → per-partition window → broadcast
    exclusive offsets), NOT a no-partition ``row_number`` window — the
    single-task trap this repo's prefix-sum operator exists to dodge;
    driver state stays #partitions rows at any scale.

    Exactness: u is the exact micro-unit revenue (per-order scaled-int
    sums, then summed per customer — associative); rank·u products and
    the Gini numerator/denominator are DECIMAL(38,0)/HUGEINT integer
    rationals, half-up-rounded at 6 dp by cross-multiplied ``div`` with
    ONE final power-of-ten double division. Ranks within a tie group
    are pinned by the (u, custkey) total order.
    """
    from ..operators.relational import global_cumsum

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint"))
            .alias("u")
        )
    )
    ranked = global_cumsum(
        per_cust.withColumn("one", F.lit(1).cast("bigint")),
        ["u", "o_custkey"],
        "one",
        out="rank_i",
    )
    dec = "decimal(38,0)"
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast(dec)).alias("su"),
        F.sum(F.col("rank_i").cast(dec) * F.col("u").cast(dec)).alias("siu"),
    )
    return m.select(
        "n",
        F.expr("CAST(su AS DOUBLE) / 1000000.0").alias("total_revenue"),
        F.expr(
            f"CAST((2 * (2 * siu - (CAST(n AS {dec}) + 1) * su) * 1000000"
            f"      + CAST(n AS {dec}) * su)"
            f"     div (2 * CAST(n AS {dec}) * su) AS DOUBLE) / 1000000.0"
        ).alias("gini"),
    )


def session_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the most common event-type SEQUENCES per
    session (first 5 steps, '>'-joined) — the pattern marketers read as
    'view>click>purchase vs view>error>…'. Sessionization reuses the
    repo's gap windows; the path is built ORDER-DETERMINISTICALLY by
    sorting each session's (ts_us, event_id, type) structs in-row
    (``sort_array`` on the collected structs — lexicographic on the
    unique (ts, id) prefix), never by relying on ``collect_list``'s
    arrival order, which is partition-timing-dependent and would break
    the cross-engine hash. Top-15 with a total path tiebreak.

    Scale: one shuffle for the user window + one for the (user,
    session) rollup (hash(user) satisfies the superset key), then a
    |paths|-cardinality count and TakeOrderedAndProject. Per-session
    state is ≤ the session's events, folded in-row.
    """
    from pyspark.sql import Window

    from .queries import SESSION_GAP_US

    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > F.lit(SESSION_GAP_US), 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.expr(
            "array_join(transform(slice(sort_array(collect_list("
            "struct(ts_us, event_id, event_type))), 1, 5),"
            " x -> x.event_type), '>')"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(15)
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles) with the ntile computed DISTRIBUTED and EXACT: each
    dimension's global rank comes from ``relational.global_cumsum``
    (range repartition + broadcast exclusive offsets — not the
    single-task no-partition ``ntile`` window), and the quintile is the
    closed-form ntile bucket ``((rank−1)·5) div n + 1`` — identical to
    SQL NTILE's leading-⌈n/5⌉ allocation, spelled the same way in the
    DuckDB oracle so neither engine's window internals are trusted.
    Ties are impossible: every ORDER carries the unique custkey.

    Scale: one grouped pass over orders, then three bounded prefix-sum
    sweeps over the |customers| frame (descending dimensions encoded by
    negation — cumsum is ascending-only); driver state is #partitions
    rows per sweep. The per-customer frame and each rank stage are
    MATERIALIZED to parquet between sweeps — chaining three cumsums on
    live lineage doubles the upstream plan per stage (each sweep
    references its input twice), an 8× plan blowup by the third; the
    stage tables are |customers| rows, noise next to the fact scan.
    Monetary stays in exact micro-units until the final power-of-ten
    division.
    """
    from ..operators.relational import global_cumsum

    def _mat(df: DataFrame) -> DataFrame:
        # r15: eager localCheckpoint replaces the parquet write+read
        # round-trip — the SAME lineage cut (each cumsum sweep
        # references its input twice; live chaining doubled the
        # upstream plan per stage), without a filesystem job + footer
        # re-read per stage (guide §5: localCheckpoint is the cheap
        # lineage truncation when fault tolerance of the intermediate
        # is not needed — it is recomputed-from-nothing here, a bench
        # query, and the blocks are |customers|-row small).
        return df.localCheckpoint(eager=True)

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint"))
        .alias("monetary_u"),
    )
    maxd = per_cust.agg(F.max("last_order").alias("__maxd"))
    base = _mat(
        per_cust.crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("__maxd"), F.col("last_order"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary_u",
        )
        .withColumn("one", F.lit(1).cast("bigint"))
        .withColumn("neg_freq", -F.col("frequency"))
        .withColumn("neg_mon", -F.col("monetary_u"))
    )
    ranked = _mat(
        global_cumsum(base, ["recency_days", "o_custkey"], "one", out="r_rank")
    )
    ranked = _mat(
        global_cumsum(ranked, ["neg_freq", "o_custkey"], "one", out="f_rank")
    )
    ranked = global_cumsum(ranked, ["neg_mon", "o_custkey"], "one", out="m_rank")
    n_total = base.agg(F.count(F.lit(1)).alias("__n"))
    scored = ranked.crossJoin(F.broadcast(n_total)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        F.expr("CAST(monetary_u AS DOUBLE) / 1000000.0").alias("monetary"),
        F.expr("((r_rank - 1) * 5) div __n").alias("__rq"),
        F.expr("((f_rank - 1) * 5) div __n").alias("__fq"),
        F.expr("((m_rank - 1) * 5) div __n").alias("__mq"),
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        (F.col("__rq") + 1).alias("r_score"),
        (F.col("__fq") + 1).alias("f_score"),
        (F.col("__mq") + 1).alias("m_score"),
        F.concat_ws(
            "-",
            (F.col("__rq") + 1).cast("string"),
            (F.col("__fq") + 1).cast("string"),
            (F.col("__mq") + 1).cast("string"),
        ).alias("rfm_segment"),
    ).orderBy("o_custkey")


def array_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function surface over the token arrays:
    sort/distinct/position/max plus an aggregate fold — all JVM-side
    lambdas (no Python), each with a DuckDB list_* twin. One projection,
    zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("tk"))
    return toks.select(
        "doc_id",
        F.expr("size(tk)").cast("bigint").alias("n_tokens"),
        F.expr("size(array_distinct(tk))").cast("bigint").alias("n_distinct"),
        F.expr("element_at(array_sort(tk), 1)").alias("first_sorted"),
        F.expr("array_position(tk, 'the')").cast("bigint").alias("the_pos"),
        F.expr("array_max(tk)").alias("max_tok"),
        F.expr("aggregate(tk, 0L, (a, x) -> a + length(x))")
        .cast("bigint")
        .alias("sum_tok_lens"),
    ).orderBy("doc_id")


def try_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe evaluation under ANSI mode: the session pins
    ``spark.sql.ansi.enabled=true`` (overflow/bad-cast RAISES — the only
    safe default for an exact engine), so the ``try_`` family is the
    sanctioned way to express "null on failure" per-expression:
    try_cast on mixed text, try_divide on zero denominators, try_add at
    the int boundary. Row-local, codegen'd; oracle via TRY_CAST/NULLIF.
    """
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    digits = F.regexp_extract(F.col("props"), "([0-9]+)", 1)
    return ev.select(
        "event_id",
        digits.try_cast("bigint").alias("props_num"),
        F.col("event_type").try_cast("bigint").alias("type_as_num"),
        F.try_divide(
            F.col("value"), (F.col("event_id") % 5).cast("double")
        ).alias("value_per_mod"),
        F.try_divide(F.lit(1.0), F.lit(0.0)).alias("div_zero"),
    ).orderBy("event_id")


def grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS via the ``spark.sql`` entry point — the
    engine's SQL surface, verified end-to-end (every other gate query
    drives the DataFrame API; the reference's users write exactly this
    kind of ANSI SQL). Three hand-picked sets in one Expand + one
    aggregate pass — the shape ROLLUP/CUBE can't express."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(grouping_id() AS BIGINT) AS grp_id
        FROM orders_v
        GROUP BY GROUPING SETS (
            (o_orderstatus, o_orderpriority),
            (o_orderpriority),
            ()
        )
        ORDER BY grp_id, o_orderstatus, o_orderpriority
        """
    )


def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native ``DataFrame.unpivot`` (SQL
    UNPIVOT / melt): part's numeric measures become (measure, value)
    rows. Row-local generate — no shuffle; the long form is what ML
    feature stores and plotting layers consume."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return part.unpivot(
        ["p_partkey"], ["p_size", "p_retailprice"], "measure", "value"
    ).orderBy("p_partkey", "measure")


OLAP_QUERIES: dict[str, QueryFn] = {
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q10_returned_revenue": q10_returned_revenue,
    "q14_promo_share": q14_promo_share,
    "q18_big_orders": q18_big_orders,
    "q19_or_pushdown": q19_or_pushdown,
    "q22_idle_customers": q22_idle_customers,
    "window_function_pack": window_function_pack,
    "stats_pack": stats_pack,
    "datetime_function_pack": datetime_function_pack,
    "string_function_pack2": string_function_pack2,
    "quantile_pack": quantile_pack,
    "profile_orders": profile_orders,
    "scd2_orders_status": scd2_orders_status,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "resample_daily_rates": resample_daily_rates,
    "unpivot_part_measures": unpivot_part_measures,
    "grouping_sets_sql": grouping_sets_sql,
    "try_function_pack": try_function_pack,
    "array_function_pack": array_function_pack,
    "incremental_daily_state": incremental_daily_state,
    "ivm_join_revenue": ivm_join_revenue,
    "ivm_join_revenue_retract": ivm_join_revenue_retract,
    "ivm_minmax_recompute": ivm_minmax_recompute,
    "ivm_distinct_support": ivm_distinct_support,
    "regression_trend_events": regression_trend_events,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "cohort_retention_weekly": cohort_retention_weekly,
    "basket_part_pairs": basket_part_pairs,
    "revenue_gini": revenue_gini,
    "session_paths_top": session_paths_top,
    "rfm_segments": rfm_segments,
    "histogram_prices": histogram_prices,
    "richest_customer_per_nation": richest_customer_per_nation,
    "fuzzy_name_pairs": fuzzy_name_pairs,
    "conditional_agg_pack": conditional_agg_pack,
    "null_function_pack": null_function_pack,
    "ewma_daily_rates": ewma_daily_rates,
    "anomaly_zscore_daily": anomaly_zscore_daily,
    "snapshot_diff_orders": snapshot_diff_orders,
    "unreferenced_parts": unreferenced_parts,
}


def interpolate_daily_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling through the gate: the per-type
    daily series with a simulated feed outage (every 3rd calendar day
    dropped), re-densified with straight-line fill between the
    surviving observations (``operators.temporal.resample_interpolate``)
    — the continuous-signal dual of ``resample_daily_rates``'
    forward-fill. ``is_interpolated`` marks synthesized rows."""
    from ..operators.temporal import resample_interpolate
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.col("event_type"), F.to_date("ts").alias("d")).agg(
        round_half_up(decimal_avg(F.col("value")), 4).alias("avg_rate")
    )
    obs = daily.filter(F.dayofmonth("d") % 3 != 0)
    out = resample_interpolate(obs, "event_type", "d", "avg_rate")
    return out.select(
        "event_type",
        "d",
        round_half_up(F.col("avg_rate"), 4).alias("avg_rate"),
        "is_interpolated",
    ).orderBy("event_type", "d")


OLAP_QUERIES["interpolate_daily_rates"] = interpolate_daily_rates


def regex_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex + string surface in one gated pass: regexp count / extract /
    replace, split_part, translate, reverse, lpad — the remaining §2.8
    string functions. All row-local codegen'd projections.

    Portability pins: ``regexp_extract`` takes explicit group 0 (Spark
    defaults to capture group 1, DuckDB to the whole match) and patterns
    stay in the RE2∩Java-regex common subset.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit("data")).alias("n_data"),
        F.regexp_extract("text", "[a-z]*a[a-z]*", 0).alias("first_a_word"),
        F.regexp_replace("text", "[aeiou]", "_").alias("devoweled"),
        F.expr("split_part(text, ' ', 3)").alias("third_token"),
        F.translate("text", "af", "xy").alias("translated"),
        F.reverse("text").alias("reversed_text"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
    ).orderBy("doc_id")


def bitwise_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface (§2.8): AND/OR/XOR, shifts, popcount, bit probe —
    the key-manipulation primitives behind shard routing and bloom-style
    filters. Pure projections, exact in any engine."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    return orders.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("and_255"),
        k.bitwiseOR(F.lit(4096)).alias("or_4096"),
        k.bitwiseXOR(F.lit(0x5A5A)).alias("xor_5a5a"),
        F.shiftleft(k, 3).alias("shl_3"),
        F.shiftright(k, 2).alias("shr_2"),
        F.bit_count(k).cast("bigint").alias("popcount"),
        F.expr("(o_orderkey >> 3) & 1").alias("bit_3"),
    ).orderBy("o_orderkey")


OLAP_QUERIES["regex_string_pack"] = regex_string_pack
OLAP_QUERIES["bitwise_function_pack"] = bitwise_function_pack


def map_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed function surface: build a token→length map per document
    (map_from_arrays over the distinct tokens) and exercise
    map_keys/map_values, element_at, map_filter, transform_values,
    map_contains_key, map_concat — all JVM-side lambdas in one
    projection, zero shuffle. The oracle computes the same SCALARS via
    DuckDB list functions (map results never cross engines — only the
    derived values do, sidestepping map-ordering divergence)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr("array_distinct(split(text, ' '))").alias("dk"),
    ).select(
        "doc_id",
        "dk",
        F.expr("map_from_arrays(dk, transform(dk, x -> length(x)))").alias(
            "m"
        ),
    )
    return t.select(
        "doc_id",
        F.expr("size(m)").cast("bigint").alias("n_keys"),
        F.expr("element_at(array_sort(map_keys(m)), 1)").alias("first_key"),
        F.expr("element_at(m, element_at(array_sort(map_keys(m)), 1))")
        .cast("bigint")
        .alias("first_key_len"),
        F.expr("size(map_filter(m, (k, v) -> v > 4))")
        .cast("bigint")
        .alias("n_long_keys"),
        F.expr("aggregate(map_values(m), 0L, (a, v) -> a + v)")
        .cast("bigint")
        .alias("sum_lens"),
        F.expr("aggregate(map_values(transform_values(m, (k, v) -> v * v)),"
               " 0L, (a, v) -> a + v)")
        .cast("bigint")
        .alias("sum_sq_lens"),
        F.expr("map_contains_key(m, 'the')").alias("has_the"),
        # size(m) + 1, not map_concat(m, map('__sentinel', -1)): under
        # spark.sql.mapKeyDedupPolicy=EXCEPTION (the default) a document
        # containing the literal sentinel token would make map_concat
        # throw — a data-dependent crash the oracle doesn't share
        # (ADVICE r04). Plain arithmetic has no such key collision.
        (F.expr("size(m)") + F.lit(1))
        .cast("bigint")
        .alias("n_keys_plus_one"),
    ).orderBy("doc_id")


OLAP_QUERIES["map_function_pack"] = map_function_pack


def json_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path/array/struct surface: build a nested JSON document
    deterministically from event columns (both engines concat the same
    string), then extract through every API — get_json_object paths,
    json_array_length, and a typed from_json struct access. Row-local,
    codegen'd; the oracle mirrors with DuckDB's json_extract family."""
    from ..sources.events import load_events

    ev = load_events(spark, sf_dir)
    j = F.expr(
        "concat('{\"meta\": ', props, ', \"tags\": [',"
        " CAST(event_id % 5 AS STRING), ', ',"
        " CAST(event_id % 7 AS STRING), '], \"type\": \"',"
        " event_type, '\"}')"
    )
    doc = ev.select("event_id", j.alias("j"))
    return doc.select(
        "event_id",
        F.get_json_object("j", "$.meta.k").cast("bigint").alias("meta_k"),
        F.get_json_object("j", "$.type").alias("type_path"),
        F.expr("json_array_length(get_json_object(j, '$.tags'))")
        .cast("bigint")
        .alias("n_tags"),
        F.expr("get_json_object(j, '$.tags[1]')")
        .cast("bigint")
        .alias("second_tag"),
        F.expr(
            "from_json(j, 'meta struct<k: bigint>, type string').meta.k"
        ).alias("typed_k"),
    ).orderBy("event_id")


def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation report over orders — the validation
    step the reference delegates to BigQuery load-job schema checks,
    made explicit: null keys, non-positive amounts, duplicate primary
    keys, and referential orphans vs customer. Each expectation is one
    aggregate (the orphan check a broadcast anti-join); the report is
    their 1-row union — bounded output at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    n = F.count(F.lit(1))

    # the three column expectations fold into ONE aggregate pass over
    # orders (unpivoted via stack); only the referential check needs a
    # second scan (the anti-join)
    base = orders.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_custkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("nonpositive_totalprice"),
        (n - F.countDistinct("o_orderkey")).cast("bigint").alias(
            "duplicate_orderkey"
        ),
        n.alias("__n"),
    ).localCheckpoint(eager=False)  # 1 row; reused by three branches
    melted = base.selectExpr(
        "stack(3,"
        " 'duplicate_orderkey', duplicate_orderkey,"
        " 'nonpositive_totalprice', nonpositive_totalprice,"
        " 'null_custkey', null_custkey) AS (check, n_violations)",
        "__n AS n_checked",
    )
    orphans = (
        orders.join(
            F.broadcast(customer),
            orders.o_custkey == customer.c_custkey,
            "left_anti",
        )
        .agg(
            F.lit("orphan_custkey").alias("check"),
            F.count(F.lit(1)).alias("n_violations"),
        )
        .crossJoin(F.broadcast(base.select(F.col("__n").alias("n_checked"))))
    )
    return melted.unionByName(orphans).orderBy("check")


OLAP_QUERIES["json_function_pack"] = json_function_pack
OLAP_QUERIES["dq_expectations_orders"] = dq_expectations_orders


def url_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface: deterministic URLs built from order columns
    (both engines concat the same string), decomposed with Spark's
    parse_url (PROTOCOL/HOST/PATH/QUERY + a query parameter) — the
    oracle mirrors each part with anchored regexps. Row-local,
    codegen'd; the shape of every clickstream/log pipeline's first
    projection."""
    orders = load_table(spark, sf_dir, "orders")
    url = F.expr(
        "concat('https://shop', CAST(o_custkey % 10 AS STRING),"
        " '.example.com/order/', CAST(o_orderkey AS STRING),"
        " '?p=', replace(o_orderpriority, ' ', '_'))"
    )
    u = orders.select("o_orderkey", url.alias("u"))
    return u.select(
        "o_orderkey",
        F.parse_url("u", F.lit("PROTOCOL")).alias("protocol"),
        F.parse_url("u", F.lit("HOST")).alias("host"),
        F.parse_url("u", F.lit("PATH")).alias("path"),
        F.parse_url("u", F.lit("QUERY")).alias("query"),
        F.parse_url("u", F.lit("QUERY"), F.lit("p")).alias("priority_param"),
    ).orderBy("o_orderkey")


OLAP_QUERIES["url_function_pack"] = url_function_pack


def variant_function_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface over the events ``props`` JSON column:
    ``parse_json`` → binary variant, typed ``variant_get`` extraction,
    and missing-path semantics (NULL, not error) — the modern
    semi-structured path that replaces string-re-parsing per field.
    At scale the parse happens once per row and every extraction reads
    the decoded variant, vs ``get_json_object`` re-parsing the string
    per call. Outputs are exact BIGINTs; the oracle mirrors with
    DuckDB's native JSON extraction (same values, no variant needed).
    """
    ev = load_events(spark, sf_dir).select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    missing = F.expr("variant_get(v, '$.nope', 'bigint')")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.when(k.isNull(), F.lit(1))).alias("n_k_null"),
            F.count(F.when(missing.isNull(), F.lit(1))).alias(
                "n_missing_null"
            ),
        )
        .orderBy("event_type")
    )


OLAP_QUERIES["variant_function_pack"] = variant_function_pack


def variant_shredded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``variant_function_pack``'s aggregation with a SHREDDED PARQUET
    ROUNDTRIP in the middle: parse events' ``props`` to variant, write
    it to parquet (Spark 4 shreds each inferred field into its own
    typed column chunk — ``operators.variant_io``), read it back, and
    run the identical typed extractions. Shares the twin's DuckDB
    oracle VERBATIM, so the gate proves write→shred→read→extract is
    value-equal to the in-memory variant path.

    Scale: the read side is the point — ``PushVariantIntoScan``
    rewrites the scan to ``struct<k paths>`` (see
    ``tests/test_variant_io.py``), so the query decodes only the
    ``$.k`` chunk of the stored documents, never re-parsing the JSON.
    """
    import os
    from ..tmputil import session_tmpdir

    from ..operators.variant_io import read_variant_table, write_variant_table

    ev = load_events(spark, sf_dir).select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    path = os.path.join(
        session_tmpdir("variant_shred_"), "events_variant"
    )
    write_variant_table(ev, path, shredded=True)
    back = read_variant_table(spark, path)
    k = F.expr("variant_get(v, '$.k', 'bigint')")
    missing = F.expr("variant_get(v, '$.nope', 'bigint')")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.when(k.isNull(), F.lit(1))).alias("n_k_null"),
            F.count(F.when(missing.isNull(), F.lit(1))).alias(
                "n_missing_null"
            ),
        )
        .orderBy("event_type")
    )


OLAP_QUERIES["variant_shredded_roundtrip"] = variant_shredded_roundtrip


# Shared verbatim with the DuckDB oracle: streak edges via a lead()
# window, then WITH RECURSIVE chain-walk. Integer/date comparisons only
# — no float divergence surface.
STREAK_RCTE_SQL = """
    WITH RECURSIVE seq AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               lead(o_orderkey) OVER w AS next_key,
               lead(o_orderdate) OVER w AS next_date
        FROM {orders}
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
    ), edges AS (
        SELECT o_custkey, o_orderkey AS src, next_key AS dst
        FROM seq
        WHERE next_key IS NOT NULL
          AND next_date <= o_orderdate + INTERVAL 30 DAY
    ), heads AS (
        SELECT s.o_custkey, s.o_orderkey
        FROM seq s
        LEFT JOIN edges e ON s.o_orderkey = e.dst
        WHERE e.dst IS NULL
    ), chains AS (
        SELECT o_custkey, o_orderkey, CAST(1 AS BIGINT) AS len
        FROM heads
        UNION ALL
        SELECT c.o_custkey, e.dst, c.len + 1
        FROM chains c JOIN edges e ON c.o_orderkey = e.src
    )
    SELECT o_custkey,
           max(len) AS longest_streak,
           count(*) AS n_chain_rows
    FROM chains
    GROUP BY o_custkey
    HAVING max(len) >= 3
    ORDER BY o_custkey
"""


def order_streaks_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase streaks via a RECURSIVE CTE (Spark 4's
    ``WITH RECURSIVE``): chains of consecutive same-customer orders
    each ≤ 30 days after the previous, walked from the streak heads
    (orders with no qualifying predecessor) — the linear-recursion
    shape (hierarchy walks, reachability) that had no SQL spelling on
    Spark before 4.0.

    The statement text is shared VERBATIM with the DuckDB oracle (only
    the table name interpolates), and every compared value is an
    integer or date — the recursion must unfold identically step for
    step in both engines for the hash to match. Recursion depth is the
    longest streak (data-bounded, ~tens), well under the engine's
    recursion limit; each iteration is one keyed join, so the plan
    scales like iterative PageRank (fixed small number of shuffles),
    not like a cross-product.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_rcte_v"
    )
    return spark.sql(STREAK_RCTE_SQL.format(orders="orders_rcte_v"))


OLAP_QUERIES["order_streaks_rcte"] = order_streaks_rcte


def sql_udf_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDFs (``CREATE TEMPORARY FUNCTION … RETURN
    expr``): reusable business expressions defined IN SQL — no Python
    worker, no JVM jar; the body inlines into the plan at analysis time
    so whole-stage codegen sees plain expressions (zero runtime cost vs
    writing the formula inline). Two functions a reporting team would
    actually share: discounted revenue and a quantity banding. The
    oracle computes the same inlined expressions (DuckDB's macro syntax
    differs; the surface under test is Spark's).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_udf_v"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE,"
        " d DOUBLE) RETURNS DOUBLE RETURN p * (CAST(1.0 AS DOUBLE) - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_band(q DOUBLE)"
        " RETURNS STRING RETURN CASE WHEN q < 10 THEN 'low'"
        " WHEN q < 30 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               qty_band(l_quantity) AS band,
               count(*) AS n_items,
               CAST(sum(CAST(floor(disc_price(l_extendedprice, l_discount)
                   * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
                   AS revenue
        FROM lineitem_udf_v
        GROUP BY l_returnflag, qty_band(l_quantity)
        ORDER BY l_returnflag, band
        """
    )


OLAP_QUERIES["sql_udf_pack"] = sql_udf_pack


def parameterized_sql_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 parameterized SQL (``spark.sql(query, args=...)``):
    named parameter markers bound server-side — the injection-safe way
    to template the reference's date/priority-guard queries instead of
    f-string splicing. Parameters reach Catalyst as literals, so
    pushdown/pruning work exactly as with inline constants; the oracle
    inlines the same values.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_param_v"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100.0 AS total_price
        FROM orders_param_v
        WHERE o_orderdate >= :lo
          AND o_orderdate < :hi
          AND o_orderpriority IN (:p1, :p2)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """,
        args={
            "lo": "1996-01-01",
            "hi": "1997-01-01",
            "p1": "1-URGENT",
            "p2": "2-HIGH",
        },
    )


OLAP_QUERIES["parameterized_sql_pack"] = parameterized_sql_pack


def pipe_syntax_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (``|>``) — the linear query spelling
    (FROM → WHERE → JOIN → AGGREGATE → ORDER BY in execution order)
    that BigQuery and Spark 4.0 both adopted. The statement chains a
    filter, a broadcast-eligible dimension join, a grouped exact-cents
    aggregate, a post-aggregation HAVING-equivalent filter stage, and
    an ordered projection — each as one pipe stage. Catalyst lowers
    pipes to the SAME logical plan as the nested spelling (pushdown,
    broadcast, partial aggregation all intact — plan-audited), and the
    oracle is the equivalent classic ANSI query, so hash-equality
    proves the sugar changes nothing semantically.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe_v"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_pipe_v"
    )
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderdate >= DATE '1996-01-01'
               AND o_orderdate < DATE '1997-01-01'
        |> JOIN customer_pipe_v ON o_custkey = c_custkey
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS total_cents
           GROUP BY c_mktsegment, o_orderstatus
        |> WHERE n_orders >= 10
        |> SELECT c_mktsegment, o_orderstatus, n_orders,
                  CAST(total_cents AS DOUBLE) / 100.0 AS total_price
        |> ORDER BY c_mktsegment, o_orderstatus
        """
    )


OLAP_QUERIES["pipe_syntax_pack"] = pipe_syntax_pack


def observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe`` / ``Observation`` — in-flight data-quality
    metrics collected DURING a write action with ZERO extra pass over
    the data (the reference's load-job validation, without BigQuery's
    second job or our DQ pack's separate aggregate scan): row count,
    null-key count, out-of-range count, exact-cents revenue total and
    the date span all accumulate inside the very task pass that feeds
    the sink, and surface driver-side as one bounded row.

    The write here is the ``noop`` sink (the metrics contract is
    identical under any sink); the gate hash-checks the observed
    metrics against the oracle recomputing the same aggregates with a
    real scan — proving the observation path aggregates exactly like a
    dedicated query. Scale: observed metrics are accumulator-style
    per-task partials merged on the driver — no shuffle, no second
    read of a 100 TB table just to know what was written.
    """
    from pyspark.sql import Observation

    obs = Observation("ingest_dq")
    orders = load_table(spark, sf_dir, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias(
            "null_custkey"
        ),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "nonpositive_price"
        ),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5))
        .cast("bigint")
        .alias("total_cents"),
        F.min(F.to_date("o_orderdate")).alias("first_date"),
        F.max(F.to_date("o_orderdate")).alias("last_date"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["null_custkey"],
                m["nonpositive_price"],
                m["total_cents"],
                m["first_date"],
                m["last_date"],
            )
        ],
        "n_rows bigint, null_custkey bigint, nonpositive_price bigint, "
        "total_cents bigint, first_date date, last_date date",
    )


OLAP_QUERIES["observed_write_metrics"] = observed_write_metrics


def string_agg_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg(... ) WITHIN GROUP (ORDER BY ...)`` — ordered
    string aggregation, the reporting surface BigQuery exposes as
    STRING_AGG. Per region: the sorted nation CSV, nation count, and
    the lexicographic min/max via the same ordered aggregate family
    (``min``/``max`` on strings). The explicit WITHIN GROUP order makes
    the concatenation deterministic — an UNORDERED listagg would be
    partitioning-dependent and could never hash-match an oracle. The
    oracle is DuckDB's ``string_agg(expr, sep ORDER BY expr)``.

    Scale: grouped aggregation with map-side partials; the per-group
    string is bounded by group cardinality (here ≤ 5 nations/region —
    at scale cap collection with a windowed top-k before aggregating).
    """
    load_table(spark, sf_dir, "region").createOrReplaceTempView(
        "region_sa_v"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_sa_v"
    )
    return spark.sql(
        """
        SELECT r_name,
               count(*) AS n_nations,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                   AS nations_csv,
               min(n_name) AS first_nation,
               max(n_name) AS last_nation
        FROM region_sa_v JOIN nation_sa_v ON r_regionkey = n_regionkey
        GROUP BY r_name
        ORDER BY r_name
        """
    )


OLAP_QUERIES["string_agg_pack"] = string_agg_pack


def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 4 SQL): for each high-balance
    customer, the top-3 orders by price — the `t` most-recent-per-entity
    idiom written the way an analyst coming from BigQuery/Postgres
    writes it, instead of the window-function rewrite. Catalyst
    decorrelates the LATERAL + ORDER BY + LIMIT into a ranked window
    join, so the physical plan is the same shuffle-once shape as the
    explicit ``row_number`` form — proving the declarative surface
    carries no plan penalty. Unique (price, orderkey) tie-break keeps
    the top-3 deterministic cross-engine; DuckDB runs the identical
    statement.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lat_v"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat_v"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer_lat_v c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders_lat_v o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 3
        ) l
        WHERE c.c_acctbal > 9000.0
        ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey
        """
    )


OLAP_QUERIES["lateral_topk_orders"] = lateral_topk_orders


def trailing_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement report — per activity day, the trailing
    1-day (DAU), 7-day (WAU) and 28-day (MAU) distinct active users:
    the operational dashboard every event pipeline publishes, and a
    windowed-DISTINCT shape Spark's range windows cannot express
    directly (COUNT(DISTINCT) over a RANGE frame is unsupported in
    every SQL engine, so naive implementations fall back to a per-day
    self-join over raw events).

    Scale shape: collapse first, expand second. Raw events reduce to
    DAY-GRAIN distinct (user, day) pairs (one hash aggregate — at
    100 TB this is the only pass over the fact table), and only that
    bounded pair set is replicated ×28 via an in-row ``sequence``
    explode onto the report days it contributes to. A broadcast
    semi-join against the tiny activity-day dimension trims the spill
    past the last day, and one grouped conditional COUNT(DISTINCT)
    finishes all three horizons (Catalyst plans the 3 distinct
    branches as one Expand ×3 — still pair-grain, never event-grain).
    Reference analog: the daily report DAG's GROUP-BY-day publish
    (`dags/ FXRate_Reporting_Pipeline.py:128-141`), widened to the
    trailing-horizon form BigQuery users write with a self-join.
    """
    ev = load_events(spark, sf_dir)
    # day-grain pairs pinned once (lazy localCheckpoint): both the
    # offset expansion and the activity-day dimension hang off the SAME
    # materialized distinct — without the pin, Catalyst re-derives the
    # full event scan + distinct for each reference (the rfm_segments
    # lesson)
    pairs = (
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = pairs.select("d").distinct().withColumnRenamed("d", "report_d")
    expanded = pairs.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("off"),
    ).withColumn("report_d", F.expr("date_add(d, off)"))
    return (
        expanded.join(F.broadcast(days), "report_d")
        .groupBy("report_d")
        .agg(
            F.countDistinct(
                F.when(F.col("off") == 0, F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(F.col("off") < 7, F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .orderBy("report_d")
    )


OLAP_QUERIES["trailing_active_users"] = trailing_active_users


def rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical downsample cascade — the hypertable/materialized-
    rollup pattern: the DAILY report is computed FROM the HOURLY
    rollup, never from raw events. Hourly state is kept in mergeable
    form (exact scaled-integer sum + count + min/max, the same algebra
    as ``operators.incremental``), so re-aggregating it upward is pure
    partial-aggregate merge: counts add, fixed-point sums add, min/max
    re-min/re-max, and the average is a projection of the merged state.
    The driver gate proves the cascade exactly equals the direct
    day-grain aggregate (the oracle computes from raw), i.e. the merge
    algebra loses nothing — the license to serve dashboards from
    rollups instead of rescanning the fact table.

    Scale: at 100 TB the hourly layer is what you materialize
    (24×|types| rows/day); every coarser grain (day here; week, month
    the same way) reads ONLY the next-finer rollup — each level is
    ~24× smaller than the last, so the cascade's total cost is a
    fraction of one raw rescan. Both aggregations are single-shuffle
    hash aggregates with map-side partials. Reference analog: the
    report DAG recomputes day aggregates from raw ticks every run
    (`dags/ FXRate_Reporting_Pipeline.py:128-141`) — this is the form
    that stops doing that.
    """
    ev = load_events(spark, sf_dir)
    return daily_rollup_report(hourly_rollup_state(ev))


def hourly_rollup_state(ev: DataFrame) -> DataFrame:
    """The SHARED hourly mergeable state (single definition — the
    batch cascade and the streaming fold both build it, so the twins
    can never silently diverge on the quantization or the state
    columns): (hour, type) → count, 1e6-scaled integer sum, min, max."""
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
        ).alias("sum_u"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def daily_rollup_report(hourly: DataFrame) -> DataFrame:
    """The SHARED daily projection of the hourly state (merge counts /
    sums / min / max upward, finish the fixed-point average) — serves
    both the batch cascade and the streaming twin's read side."""
    daily = hourly.groupBy(
        F.to_date("h").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("sum_u").alias("sum_u"),
        F.min("min_v").alias("min_value"),
        F.max("max_v").alias("max_value"),
    )
    return daily.select(
        "day",
        "event_type",
        "n_events",
        round_half_up(
            F.col("sum_u").cast("double") / F.lit(1e6), 2
        ).alias("sum_value"),
        round_half_up(
            F.col("sum_u").cast("double") / F.lit(1e6) / F.col("n_events"), 4
        ).alias("avg_value"),
        "min_value",
        "max_value",
    ).orderBy("day", "event_type")


OLAP_QUERIES["rollup_cascade_daily"] = rollup_cascade_daily


def robust_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics — the outlier-resistant profile a
    data-quality monitor publishes where mean/stddev would be skewed by
    heavy tails: exact median, MAD (median absolute deviation from the
    median), percentile_disc-style p10/p90 cut values, and the
    winsorized mean (values clamped into [p10, p90] before an exact
    fixed-point average). Every quantile is spelled as RANK ARITHMETIC
    over a unique total order (value, o_orderkey) — engine quantile
    functions disagree on interpolation, rank picks are bit-portable
    (the ``median_price_by_status`` convention; even-n medians average
    the two middle rows, one IEEE add + exact halving).

    Scale: two windowed rank passes partitioned by the group key (the
    second ranks |x − median| after the tiny per-group median frame
    broadcasts back), then one grouped aggregate over the clamped
    values — all shuffles are on ``o_orderstatus``, and AQE broadcasts
    the 3-row median/cut frames. No sort of the full table beyond the
    per-group window order a 1000-executor cluster runs per partition.
    Reference analog: the report DAG's AVG (`dags/
    FXRate_Reporting_Pipeline.py:135`) — the robust forms a production
    monitor replaces it with when ticks spike.
    """
    from pyspark.sql import Window

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
    # ONE conditional aggregate finishes median + both disc cuts from a
    # single reference to the ranked frame (a second reference would
    # re-derive the whole scan+window subtree — the rfm_segments
    # lesson); the |groups|-row result is eagerly checkpointed (bounded
    # driver-side materialization) so the two downstream passes
    # broadcast it instead of recomputing it.
    is_mid = (F.col("rn") == F.expr("(n + 1) div 2")) | (
        F.col("rn") == F.expr("n div 2 + 1")
    )
    q = (
        ranked.groupBy("o_orderstatus")
        .agg(
            (
                F.sum(F.when(is_mid, F.col("o_totalprice")))
                / F.count(F.when(is_mid, F.lit(1)))
            ).alias("median_price"),
            F.min(
                F.when(
                    F.col("rn")
                    == F.greatest(F.lit(1), F.ceil(0.10 * F.col("n"))),
                    F.col("o_totalprice"),
                )
            ).alias("p10"),
            F.min(
                F.when(
                    F.col("rn")
                    == F.greatest(F.lit(1), F.ceil(0.90 * F.col("n"))),
                    F.col("o_totalprice"),
                )
            ).alias("p90"),
        )
        .localCheckpoint()
    )
    j = orders.join(F.broadcast(q), "o_orderstatus").select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        "p10",
        "p90",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("dev"),
    )
    wd = Window.partitionBy("o_orderstatus").orderBy("dev", "o_orderkey")
    dev_ranked = j.select(
        "o_orderstatus",
        "dev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mad = (
        dev_ranked.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("n div 2 + 1"))
        )
        .groupBy("o_orderstatus")
        .agg((F.sum("dev") / F.count(F.lit(1))).alias("mad"))
    )
    winsor = (
        j.select(
            "o_orderstatus",
            F.greatest(
                F.col("p10"), F.least(F.col("p90"), F.col("o_totalprice"))
            ).alias("w"),
        )
        .groupBy("o_orderstatus")
        .agg(round_half_up(decimal_avg(F.col("w")), 4).alias("winsor_mean"))
    )
    return (
        q.join(mad, "o_orderstatus")
        .join(winsor, "o_orderstatus")
        .select(
            "o_orderstatus", "median_price", "mad", "p10", "p90",
            "winsor_mean",
        )
        .orderBy("o_orderstatus")
    )


OLAP_QUERIES["robust_stats_orders"] = robust_stats_orders


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-to-fact join via BUCKETED table layout — the
    storage-level co-location strategy for the joins too big to
    broadcast AND too hot to re-shuffle every query: both sides are
    written ``bucketBy(orderkey).sortBy(orderkey)`` (Spark's
    hash-bucketed layout, the open analog of BigQuery clustering), so
    the sort-merge join consumes bucket files directly — ZERO Exchange
    on either side of the join in the physical plan; the only shuffle
    left is the final small group-by. (A cheap in-partition Sort
    remains: Spark trusts bucket sort order only under the legacy
    ``bucketedTableScan.outputOrdering`` flag — the expensive part,
    the network shuffle, is what the layout removes.) At 100 TB you pay
    the layout cost once at ingest and every subsequent orderkey join
    is shuffle-free — the single biggest recurring-cost lever for a
    star-schema fact pair queried daily.

    The one-time bucketed write here IS part of the operator (external
    tables under a session temp location via ``option("path")``, so
    re-runs in a fresh session never trip over stale managed-table
    dirs; ``catalog.drop_table`` S5 reuse for same-session re-runs).
    The gate proves layout + join against the plain declarative join
    oracle: bucketing must be a pure physical optimization with zero
    semantic drift. Buckets must agree on count (8) and key on both
    sides — mismatched bucket counts silently fall back to shuffle,
    which the plan audit would flag.
    """
    import os

    from ..catalog import drop_table
    from ..tmputil import session_tmpdir

    root = session_tmpdir("bucketed_join_")
    for name, df, key in (
        (
            "bkt_lineitem",
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            "l_orderkey",
        ),
        (
            "bkt_orders",
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            "o_orderkey",
        ),
    ):
        drop_table(spark, name, if_exists=True)
        (
            df.repartition(8, key)  # one file per bucket, not tasks×buckets
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(root, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    li = spark.table("bkt_lineitem")
    od = spark.table("bkt_orders")
    # MERGE hint: at test sf the orders side is broadcast-small and AQE
    # would (correctly) skip the bucketed machinery; the hint pins the
    # sort-merge path this operator exists for — at 100 TB neither side
    # broadcasts and SMJ-over-buckets is what runs unhinted.
    return (
        li.join(od.hint("merge"), li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            round_half_up(
                decimal_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


OLAP_QUERIES["bucketed_colocated_join"] = bucketed_colocated_join


def sql_variables_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session-variable surface (`DECLARE OR REPLACE
    VARIABLE`, `SET VAR … = (scalar subquery)`, `EXECUTE IMMEDIATE …
    USING var`) — the scripting glue the reference keeps in Airflow
    task parameters and Jinja templating (`dags/fx_pipeline_with_merge
    .py` passes run dates/thresholds into SQL strings): here the
    pipeline parameters live IN the SQL session, typed and
    injection-proof, and a data-derived threshold (`SET VAR … =
    (SELECT …)`) closes the loop a templated string can't.

    The threshold subquery uses the engine-exact fixed-point average
    formula (identical text both engines) so the variable's VALUE is
    bit-identical to the oracle's inlined scalar subquery. The final
    report runs through EXECUTE IMMEDIATE with positional markers
    bound from session variables — the dynamic-SQL path, proven
    equivalent to the static form by the gate.

    Scale: variables are driver-side scalars (one 1-row subquery —
    the bounded-collect pattern); the report is one scan + grouped
    aggregate with both predicates pushed down.
    """
    spark.sql(
        "DECLARE OR REPLACE VARIABLE cut_lo DATE DEFAULT DATE'1996-01-01'"
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE cut_hi DATE DEFAULT DATE'1998-01-01'"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_var_v")
    spark.sql(
        """
        SET VAR price_floor = (
            SELECT CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                                 AS BIGINT)) AS DOUBLE)
                   / 1000000.0 / count(*)
            FROM orders_var_v
        )
        """
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                count(*) AS n_orders,
                CAST((sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                               AS BIGINT)) * 2 + 10000) div 20000
                     AS DOUBLE) / 100.0
                    AS sum_price
         FROM orders_var_v
         WHERE CAST(o_orderdate AS DATE) >= ?
           AND CAST(o_orderdate AS DATE) <  ?
           AND o_totalprice > ?
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority'
        USING cut_lo, cut_hi, price_floor
        """
    )


OLAP_QUERIES["sql_variables_pack"] = sql_variables_pack


DAY_US = 86_400_000_000


def time_weighted_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted daily average — the irregular-sampling aggregate
    (TimescaleDB's ``time_weight('locf')``, kdb's wavg-over-intervals):
    each observation's value holds until the NEXT observation, so the
    day's average weights every sample by how long it was current, not
    by how often the feed ticked. A plain AVG over-counts bursty
    periods; the time-weighted form is what pricing/telemetry reports
    actually need. The reference's BigQuery SQL would write this as a
    LEAD self-window — same shape here, proven cross-engine.

    Exactness: all arithmetic is integer. Timestamps reduce to
    MICROS-OF-DAY extracted from the NTZ value itself
    (``hour/minute/date_part('SECOND')``) — no epoch conversion, so the
    result is identical under ANY driver session timezone (the
    ``unix_micros(cast(ntz as timestamp))`` idiom used where only
    *differences* matter would shift the day-end boundary under a
    non-UTC session). Values become 1e6-scaled BIGINTs (the
    ``decimal_sum`` convention), weights are BIGINT micros (the last
    sample of a day carries to midnight), and the weighted mean is the
    repo's sign-safe half-up 6-dp integer rational — ONE final double
    division.

    Scale: one hash exchange on ``event_type`` serves BOTH the LEAD
    window (ClusteredDistribution of (type, day) is satisfied by
    hash(type)) and the (type, day) rollup — the fact table is scanned
    once and shuffled once; per-group state is one row. Weights never
    leave the row they're computed on.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.expr(
            "CAST(hour(ts) * 3600 + minute(ts) * 60 AS BIGINT) * 1000000"
            " + CAST(date_part('SECOND', ts) * 1000000 AS BIGINT)"
        ).alias("us"),
        F.expr(
            "CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("v6"),
        "event_id",
    ).repartition("event_type")
    w = Window.partitionBy("event_type", "d").orderBy("us", "event_id")
    weighted = ev.withColumn(
        "w_us",
        F.coalesce(F.lead("us").over(w), F.lit(DAY_US)) - F.col("us"),
    )
    dec = "decimal(38,0)"
    agg = weighted.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.expr(f"sum(CAST(v6 AS {dec}) * w_us)").alias("num"),
        F.expr(f"sum(CAST(w_us AS {dec}))").alias("den_us"),
    )
    return agg.select(
        "event_type",
        "d",
        "n_samples",
        F.expr(
            "CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END"
            " * ((2 * abs(num) + den_us) div (2 * den_us))"
            " AS DOUBLE) / 1000000.0"
        ).alias("twa_value"),
    ).orderBy("event_type", "d")


OLAP_QUERIES["time_weighted_avg_daily"] = time_weighted_avg_daily


def counter_rate_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter increase — the Prometheus ``increase()`` /
    ``resets()`` semantics every telemetry pipeline reimplements: a
    monotone-within-epoch cumulative counter is scraped at irregular
    instants; between consecutive scrapes the contribution is the delta
    when the counter moved forward, or the CURRENT reading when it went
    backward (a restart happened — the pre-reset tail is unknowable and
    the post-reset accumulation counts from zero). The first scrape of
    a series contributes its full reading (counter born at 0).

    The fixture is honest about the hard part: the counter is each
    user's within-day running total of ``value`` (resets at midnight),
    but only every 3rd sample survives (``event_id % 3 = 0`` — a
    deterministic scrape grid). A missed midnight sample makes the next
    delta span the reset, so naive last-minus-first or a plain SUM is
    WRONG; the gate certifies the fold over exactly the retained
    samples, including the undercount Prometheus itself exhibits when a
    reset hides between scrapes. All arithmetic is integer (1e6-scaled
    readings), one final double division.

    Scale: one hash exchange on ``user_id`` serves the within-day
    cumsum window, the cross-day lag window AND the per-user rollup
    (ClusteredDistribution subsumption); the scrape filter rides after
    the cumsum so dropped rows still shape the counter. TakeOrdered
    top-100 with a unique tiebreak.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        F.to_date("ts").alias("d"),
        F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").alias("v6"),
    ).repartition("user_id")
    cum = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    counters = ev.withColumn(
        "c6",
        F.sum("v6").over(
            cum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).filter(F.col("event_id") % 3 == 0)
    lagw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = counters.withColumn("prev_c6", F.lag("c6").over(lagw)).select(
        "user_id",
        F.when(
            F.col("prev_c6").isNull() | (F.col("c6") < F.col("prev_c6")),
            F.col("c6"),
        ).otherwise(F.col("c6") - F.col("prev_c6")).alias("inc6"),
        F.when(
            F.col("prev_c6").isNotNull() & (F.col("c6") < F.col("prev_c6")), 1
        ).otherwise(0).alias("is_reset"),
    )
    return (
        deltas.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("is_reset").cast("bigint").alias("n_resets"),
            F.expr(
                "CAST(sum(inc6) AS DOUBLE) / 1000000.0"
            ).alias("total_increase"),
        )
        .orderBy(F.desc("total_increase"), "user_id")
        .limit(100)
    )


OLAP_QUERIES["counter_rate_resets"] = counter_rate_resets


def cdc_version_stream(orders: DataFrame) -> DataFrame:
    """The SHARED out-of-order CDC fixture (single definition so the
    batch apply and its streaming twin can never silently diverge —
    the ``signed_cdc_batch`` precedent): per order key, an insert at
    seq 0; for %3 an update at seq 2 plus, for %6, a STALE update at
    seq 1; for %13 a delete at seq 3; for %7 an update at seq 5 that
    resurrects the %14 delete at seq 4. Built IN-ROW (one array of
    version structs, null-compacted, exploded) — one fact scan, never
    a UNION of per-leg re-scans."""
    return orders.select(
        "o_orderkey",
        F.explode(
            F.expr(
                """
                filter(array(
                  named_struct('seq', 0L, 'op', 'I',
                               'status', o_orderstatus,
                               'price', o_totalprice),
                  CASE WHEN o_orderkey % 3 = 0 THEN
                    named_struct('seq', 2L, 'op', 'U',
                                 'status', 'P3',
                                 'price', o_totalprice + 100.0) END,
                  CASE WHEN o_orderkey % 6 = 0 THEN
                    named_struct('seq', 1L, 'op', 'U',
                                 'status', 'P6',
                                 'price', o_totalprice + 50.0) END,
                  CASE WHEN o_orderkey % 13 = 0 THEN
                    named_struct('seq', 3L, 'op', 'D',
                                 'status', CAST(NULL AS STRING),
                                 'price', CAST(NULL AS DOUBLE)) END,
                  CASE WHEN o_orderkey % 7 = 0 THEN
                    named_struct('seq', 5L, 'op', 'U',
                                 'status', 'P7',
                                 'price', o_totalprice + 200.0) END,
                  CASE WHEN o_orderkey % 14 = 0 THEN
                    named_struct('seq', 4L, 'op', 'D',
                                 'status', CAST(NULL AS STRING),
                                 'price', CAST(NULL AS DOUBLE)) END
                ), x -> x IS NOT NULL)
                """
            )
        ).alias("v"),
    )


def cdc_out_of_order_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order CDC apply — the log-compaction step every
    replication consumer runs: a change stream carries multiple
    versions per key tagged with a SOURCE sequence number, the
    transport reorders them, and apply must keep the max-seq version
    per key regardless of arrival order, with deletes terminal ONLY
    when they are the latest version. The fixture exercises every
    branch deterministically: each order emits its insert (seq 0);
    keys %3 an update at seq 2 plus, for %6, a STALE update at seq 1
    that must lose; keys %13 a delete at seq 3; keys %7 an update at
    seq 5 that RESURRECTS any %14 delete at seq 4 (and outlives the
    %13 delete). Latest-wins here is the same versioned-layout
    semantics ``operators/writers.py`` merge implements at the file
    level; this query proves the row-level algebra.

    Scale: the whole multi-version stream is built IN-ROW (one array
    of version structs per base row, null-compacted and exploded) — at
    100 TB that is ONE fact scan, not a UNION of per-leg re-scans —
    and apply is a single ``max_by(struct, seq)`` hash aggregate on
    the key: one exchange, no window sort, no self-join. Price edits
    are pure double additions (exact IEEE, cross-engine).
    """
    orders = load_table(spark, sf_dir, "orders")
    versions = cdc_version_stream(orders)
    applied = versions.groupBy("o_orderkey").agg(
        F.expr("max_by(v, v.seq)").alias("win"),
        F.count(F.lit(1)).alias("n_versions"),
        F.max("v.seq").alias("winning_seq"),
    )
    return (
        applied.filter(F.col("win.op") != "D")
        .select(
            "o_orderkey",
            F.col("win.status").alias("final_status"),
            F.col("win.price").alias("final_price"),
            "winning_seq",
            "n_versions",
        )
        .orderBy("o_orderkey")
    )


OLAP_QUERIES["cdc_out_of_order_apply"] = cdc_out_of_order_apply


def quantile_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles served FROM MERGEABLE STATE — the aggregate that
    makes rollup architectures hard: count/sum/min/max fold trivially
    (``rollup_cascade_daily``), but a quantile has no bounded partial
    state in general, which is why engines ship t-digest/KLL sketches.
    Here the repo exploits what a 100 TB pipeline usually can: the
    measure is FIXED-POINT (2-dp readings), so the exact mergeable
    state is the VALUE-GRAIN HISTOGRAM — (hour, type, cent, n) — and
    merging rollups is just summing counts. The daily p50/p90/p99 is
    then a cumulative walk over the merged histogram: the smallest
    cent whose running count reaches ceil(p·n), the percentile_disc
    definition spelled as integer rank arithmetic (no interpolation,
    no floats until one final /100.0).

    The oracle computes the same cuts DIRECTLY FROM RAW rows (ranked
    conditional aggregate, the ``robust_stats_orders`` pattern) — so
    hash-equality certifies the histogram cascade is LOSSLESS, the
    license to serve latency dashboards from hourly rollups without
    ever rescanning raw. Scale: the raw scan partial-aggregates
    map-side into histogram cells (the only fact-table pass); every
    later exchange moves only histogram-grain rows (|cents present| ≤
    56k per group, bounded by the value domain, ~17.8k observed at
    sf0.1); the window walk and the cut extraction ride one
    (day, type) clustering.
    """
    ev = load_events(spark, sf_dir)
    return daily_quantile_report(hourly_hist_state(ev))


def hourly_hist_state(ev: DataFrame) -> DataFrame:
    """The SHARED value-grain histogram state (single definition for
    the batch cascade and the streaming fold — quantization grain and
    state columns can never silently diverge): (hour, type, cent) → n."""
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cent"),
    ).agg(F.count(F.lit(1)).alias("n"))


def daily_quantile_report(hourly_hist: DataFrame) -> DataFrame:
    """The SHARED serve-time walk over histogram state: merge hourly
    cells to day grain, cumulative-walk each (day, type) histogram,
    and cut p50/p90/p99 at ceil(p*n) in integer rank arithmetic —
    both the batch cascade and the streaming twin's read side."""
    from pyspark.sql import Window

    daily_hist = hourly_hist.groupBy(
        F.to_date("h").alias("day"), "event_type", "cent"
    ).agg(F.sum("n").alias("n"))
    w = Window.partitionBy("day", "event_type").orderBy("cent")
    walked = daily_hist.withColumn(
        "cum",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)),
    ).withColumn("n_total", F.sum("n").over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
    return (
        walked.groupBy("day", "event_type")
        .agg(
            F.max("n_total").alias("n_events"),
            F.expr(
                "CAST(min(CASE WHEN cum >= (n_total + 1) div 2"
                " THEN cent END) AS DOUBLE) / 100.0"
            ).alias("p50"),
            F.expr(
                "CAST(min(CASE WHEN cum >= (9 * n_total + 9) div 10"
                " THEN cent END) AS DOUBLE) / 100.0"
            ).alias("p90"),
            F.expr(
                "CAST(min(CASE WHEN cum >= (99 * n_total + 99) div 100"
                " THEN cent END) AS DOUBLE) / 100.0"
            ).alias("p99"),
        )
        .orderBy("day", "event_type")
    )


OLAP_QUERIES["quantile_rollup_cascade"] = quantile_rollup_cascade


PRUNE_LO = "2024-01-08"
PRUNE_HI = "2024-01-14"


def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning — the OTHER
    pay-once-at-ingest storage lever next to ``bucketed_colocated_join``
    (bucketing co-locates JOIN keys; date partitioning prunes TIME
    ranges): events land partitioned by ``event_date``, and a
    one-week report touches only those directories — at 100 TB the
    difference between scanning ~31 days and ~7, decided by the
    CATALOG (directory listing) before a single row is read. The
    pytest asserts the executed plan carries the bounds as
    PartitionFilters with zero data filters left; the gate proves the
    layout is purely physical against a direct filtered-aggregate
    oracle on raw events (same exactness machinery, same answer).

    The write repartitions by the partition column first so each day
    directory holds one file, not one per upstream task — the
    small-files discipline a daily-partitioned 100 TB table lives or
    dies by.
    """
    import os

    from ..tmputil import session_tmpdir

    root = session_tmpdir("part_prune_")
    path = os.path.join(root, "events_by_day")
    ev = load_events(spark, sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )
    ev.repartition("event_date").write.partitionBy("event_date").mode(
        "overwrite"
    ).parquet(path)
    part = spark.read.parquet(path)
    return (
        part.filter(
            (F.col("event_date") >= F.lit(PRUNE_LO).cast("date"))
            & (F.col("event_date") <= F.lit(PRUNE_HI).cast("date"))
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


OLAP_QUERIES["partition_pruned_scan"] = partition_pruned_scan


def null_semantics_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued NULL semantics of IN / NOT IN / NOT EXISTS — the
    correctness surface that silently separates SQL engines (and the
    single most common rewrite bug when users hand-convert NOT IN to
    anti joins): a NULL anywhere in a NOT IN subquery makes EVERY
    comparison UNKNOWN, so the result is empty; a NULL probe row can
    never pass IN or NOT IN; NOT EXISTS is immune to both. Five labeled
    counts over the same tables, UNION ALL of scalar aggregates:

    - not_in_clean     — NOT IN, null-free subquery (plain anti join)
    - not_exists_clean — the NOT EXISTS spelling, must equal it
    - not_in_nullable  — subquery contains NULLs → count MUST be 0
      (Spark plans NOT IN as a null-aware anti join — BroadcastHashJoin
      LeftAnti with isNullAware=true; AQE even folds this leg to
      EmptyRelation at runtime once the build side observes a NULL. A
      naive plain-anti-join rewrite returns thousands of rows — the
      bug this leg pins)
    - in_nullable      — IN ignores subquery NULLs, matches the rest
    - not_in_null_probe — NULLed probe rows drop out of NOT IN

    SQL front end end-to-end (temp views + one statement), so the gate
    proves Catalyst's null-aware planning against DuckDB's ANSI
    engine, not a hand-built DataFrame translation. Scale: each leg is
    one broadcast(-anti) join of the fact against the filtered dim
    subquery — the NullAwareAntiJoin requirement (broadcast-only in
    Spark) is exactly how you'd run it at 100 TB, the dim side is
    bounded.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_null_v"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_null_v"
    )
    return spark.sql(
        """
        SELECT 'not_in_clean' AS case_label, count(*) AS n
        FROM orders_null_v
        WHERE o_custkey NOT IN (
            SELECT c_custkey FROM customer_null_v WHERE c_acctbal < 0)
        UNION ALL
        SELECT 'not_exists_clean', count(*)
        FROM orders_null_v o
        WHERE NOT EXISTS (
            SELECT 1 FROM customer_null_v c
            WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        UNION ALL
        SELECT 'not_in_nullable', count(*)
        FROM orders_null_v
        WHERE o_custkey NOT IN (
            SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
            FROM customer_null_v)
        UNION ALL
        SELECT 'in_nullable', count(*)
        FROM orders_null_v
        WHERE o_custkey IN (
            SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
            FROM customer_null_v)
        UNION ALL
        SELECT 'not_in_null_probe', count(*)
        FROM orders_null_v
        WHERE CASE WHEN o_orderkey % 5 = 0 THEN NULL
                   ELSE o_custkey END NOT IN (
            SELECT c_custkey FROM customer_null_v WHERE c_acctbal < 0)
        ORDER BY case_label
        """
    )


OLAP_QUERIES["null_semantics_pack"] = null_semantics_pack


def er_records_with_variants(cust: DataFrame) -> DataFrame:
    """The SHARED ER fixture (single definition, ``cdc_version_stream``
    precedent): record ids live in the injective space
    ``c_custkey*4 + generation`` — collision-free at ANY scale factor
    (the additive +1e6 scheme collided with real keys past sf~7).
    Every 7th customer spawns a typo variant (last name char -> 'X',
    generation 1) and every 21st a SECOND-generation variant
    (one more substitution, generation 2) that matches the first variant
    at distance 1 but the base only at distance 2 — so transitive
    closure is load-bearing, not decorative. Built IN-ROW (struct
    array, null-compacted, exploded): one dim scan. Variants inherit
    nation and balance — the multi-attribute block keys."""
    return cust.select(
        F.explode(
            F.expr(
                """
                filter(array(
                  named_struct('rec_key', c_custkey * 4L, 'name', c_name,
                               'nk', c_nationkey, 'bal', c_acctbal),
                  CASE WHEN c_custkey % 7 = 0 THEN
                    named_struct('rec_key', c_custkey * 4L + 1L,
                                 'name', concat(substring(c_name, 1,
                                         length(c_name) - 1), 'X'),
                                 'nk', c_nationkey, 'bal', c_acctbal) END,
                  CASE WHEN c_custkey % 21 = 0 THEN
                    named_struct('rec_key', c_custkey * 4L + 2L,
                                 'name', concat(substring(c_name, 1,
                                         length(c_name) - 2), 'YX'),
                                 'nk', c_nationkey, 'bal', c_acctbal) END
                ), x -> x IS NOT NULL)
                """
            )
        ).alias("r")
    ).select("r.rec_key", "r.name", "r.nk", "r.bal")


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the golden-record pipeline every
    customer-data platform runs: deterministic typo variants injected
    in-row (``er_records_with_variants``), MULTI-ATTRIBUTE BLOCKING
    (nation x exact balance cents — the realistic candidate bound:
    name-only blocking over this synthetic name space chains every
    customer to every other through one-digit edits, exactly the
    unbounded-component failure mode real ER systems block against),
    pairwise levenshtein <= 1 within blocks, TRANSITIVE CLOSURE over
    the match pairs (``operators.dedup.connected_components`` — the
    second-generation variant matches only the first, never the base,
    so A~B~C merges purely through closure), then SURVIVORSHIP: the
    canonical id is the component min and golden attributes come from
    the max-balance member via a composed integer ordering
    (cents·2⁴⁰ + key in DECIMAL(38,0)/HUGEINT — balance-major for any
    record key below 2⁴⁰, i.e. any conceivable sf, where a BIGINT
    cents·1e7 packing silently stops being balance-major once keys
    cross 1e7).

    Scale: the block key is the shuffle key and block sizes are
    bounded by construction (a base and its variants share the block;
    random cross-customer collisions need identical nation AND cents),
    so closure components have diameter <= ~4 and the verified
    min-label loop converges in a handful of rounds at ANY sf — the
    property the name-chain graph lacked, found by the sf0.1
    selfcheck. Oracle: the same pipeline with closure as a
    RECURSIVE-CTE reachability fixed point.
    """
    from ..operators.dedup import connected_components

    recs = er_records_with_variants(
        load_table(spark, sf_dir, "customer")
    ).withColumn(
        "cents", F.expr("CAST(floor(bal * 100.0 + 0.5) AS BIGINT)")
    ).localCheckpoint(eager=False)
    a = recs.select(
        "nk", "cents",
        F.col("rec_key").alias("key_a"), F.col("name").alias("name_a"),
    )
    b = recs.select(
        "nk", "cents",
        F.col("rec_key").alias("key_b"), F.col("name").alias("name_b"),
    )
    pairs = (
        a.join(b, ["nk", "cents"])
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(F.levenshtein("name_a", "name_b") <= FUZZY_MAX_EDITS)
        .select("key_a", "key_b")
    )
    comps = connected_components(pairs, "key_a", "key_b")
    members = comps.join(recs, comps["node"] == recs["rec_key"])
    ordkey = F.expr(
        "CAST(cents AS DECIMAL(38,0)) * 1099511627776 + rec_key"
    )
    return (
        members.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max_by(F.col("rec_key"), ordkey).alias("golden_key"),
            F.max_by(F.col("name"), ordkey).alias("golden_name"),
            F.max_by(F.col("bal"), ordkey).alias("golden_acctbal"),
        )
        .orderBy("cluster_id")
    )


OLAP_QUERIES["er_golden_record"] = er_golden_record


def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier query (Börzsönyi et al.'s SKYLINE OF
    operator) — per order priority, the orders not DOMINATED on
    (minimize price, maximize recency): kept iff no same-priority
    order is cheaper-or-equal AND at-least-as-recent with one strict
    inequality; ties on both axes stay on the frontier. The
    multi-objective "best offers" query every marketplace/report
    layer reimplements with O(n²) self-joins.

    Spark plan is the LINEAR decomposition: dominance splits into
    (a) a strictly-cheaper price level with date >= mine — computed on
    the PRICE-GRAIN rollup (distinct price → max date, tiny) with a
    ROWS-frame running max over strict predecessor prices, broadcast
    back; and (b) an equal-price order with a strictly later date —
    one (priority, price) window. No self-join, no quadratic pair
    blowup: one fact pass + price-grain frames. The oracle reaches the
    same frontier through a genuinely different mechanism — a DuckDB
    RANGE frame offset below the 2-dp price grid (0.005 PRECEDING
    excludes equals, admits every strictly-cheaper row). Unique
    orderkey tiebreak on the output order only; membership is
    tie-complete by construction.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    price_grain = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.max("d").alias("lvl_max_d")
    )
    wp = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    dominators = price_grain.withColumn(
        "cheaper_max_d", F.max("lvl_max_d").over(wp)
    ).select("o_orderpriority", "o_totalprice", "cheaper_max_d")
    weq = Window.partitionBy("o_orderpriority", "o_totalprice")
    flagged = (
        orders.withColumn("eq_max_d", F.max("d").over(weq))
        .join(
            F.broadcast(dominators), ["o_orderpriority", "o_totalprice"]
        )
        .filter(
            (F.col("cheaper_max_d").isNull()
             | (F.col("cheaper_max_d") < F.col("d")))
            & (F.col("eq_max_d") <= F.col("d"))
        )
    )
    return flagged.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        "d",
    ).orderBy("o_orderpriority", "o_orderkey")


OLAP_QUERIES["skyline_pareto_orders"] = skyline_pareto_orders


ATTR_WINDOW_HOURS = 2
ATTR_N_CHANNELS = 5


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the marketing-analytics
    operator between first-touch (a plain as-of join,
    ``asof_attribution``) and data-driven models: each purchase's value
    splits EQUALLY across every view by the same user in the trailing
    {h}-hour window (channel = the JSON ``props.k`` payload mod {c} —
    the P2 extraction reused as a dimension), and purchases with no
    qualifying touch land in the explicit ``-1`` unattributed bucket
    at full value, so credit totals reconcile against revenue by
    construction. Fractional credit is the exactness trap: value/n is
    not engine-portable in double, so each touch's credit is the
    half-up integer rational (2·v6 + n) div (2·n) — every engine
    computes the identical per-touch integer and sums of identical
    integers are exact.

    Scale: ONE equi-join on ``user_id`` (per-user event counts bound
    the range residual — never a time-bucket cross join), one
    purchase-keyed window for the touch count, one channel rollup.
    hash(user) clusters purchases with their candidate views, so the
    join is the only fact-grain shuffle.
    """
    ev = load_events(spark, sf_dir)
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.expr("CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)").alias("v6"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
        (
            F.get_json_object("props", "$.k").cast("bigint")
            % ATTR_N_CHANNELS
        ).alias("channel"),
    )
    joined = purch.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (
            F.col("v_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_HOURS} HOURS")
        ),
        "left",
    )
    from pyspark.sql import Window

    wn = Window.partitionBy("p_id")
    credited = joined.withColumn(
        "n_t", F.count("v_id").over(wn)
    ).select(
        F.coalesce(F.col("channel"), F.lit(-1)).alias("channel"),
        F.when(F.col("v_id").isNull(), F.col("v6"))
        .otherwise(
            F.expr("(2 * v6 + n_t) div (2 * n_t)")
        )
        .alias("credit6"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.expr(
                "CAST(sum(credit6) AS DOUBLE) / 1000000.0"
            ).alias("credited_value"),
        )
        .orderBy("channel")
    )


multi_touch_attribution.__doc__ = multi_touch_attribution.__doc__.format(
    h=ATTR_WINDOW_HOURS, c=ATTR_N_CHANNELS
)
OLAP_QUERIES["multi_touch_attribution"] = multi_touch_attribution


_CDF_TABLE_CACHE: dict[str, str] = {}


def _cdf_orders_table(spark: SparkSession, sf_dir: str) -> str:
    """Shared fixture (r10 lesson: twins share builders): a versioned
    orders table built by three CDF-emitting commits — create (%3<>0),
    upsert evens repriced *1.1 to 'M', upsert %5 keys repriced *0.9 to
    'N'. Returns the table path; feeds live under ``v_*/_change_data``.

    Memoized per sf_dir (code-review r11: both CDF queries share the
    fixture, and each commit runs its merge join twice — snapshot +
    feed — so a run executing both queries was paying 6 commits / 12
    joins). Revalidated against the pointer file because the bench's
    tmpdir sweep removes session temp tables between queries.
    """
    import os

    from ..operators.writers import merge_upsert
    from ..tmputil import session_tmpdir

    cached = _CDF_TABLE_CACHE.get(sf_dir)
    if cached and os.path.isfile(os.path.join(cached, "_CURRENT")):
        return cached
    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(session_tmpdir("merge_cdf_"), "orders_tbl")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    merge_upsert(
        spark, path, target, keys=["o_orderkey"], keep_versions=4,
        emit_cdf=True,
    )
    s1 = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2))
        .withColumn("o_orderstatus", F.lit("M"))
    )
    merge_upsert(
        spark, path, s1, keys=["o_orderkey"], keep_versions=4, emit_cdf=True
    )
    s2 = (
        orders.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", round_half_up(F.col("o_totalprice") * 0.9, 2))
        .withColumn("o_orderstatus", F.lit("N"))
    )
    merge_upsert(
        spark, path, s2, keys=["o_orderkey"], keep_versions=4, emit_cdf=True
    )
    _CDF_TABLE_CACHE[sf_dir] = path
    return path


def merge_cdf_ivm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE change-data-feed → IVM, end-to-end (VERDICT r10 item 2 —
    the producer the retraction fold was missing): three versioned
    MERGE commits against a real table (create, reprice evens to
    status 'M', discount the %5 keys to status 'N'), each emitting its
    change feed (``writers.merge_upsert(..., emit_cdf=True)``, the
    Delta/BigQuery change-data-feed production pattern; reference
    basis: the MERGE at ``dags/fx_pipeline_with_merge.py:90-103`` whose
    engine offers exactly this feed). The per-status revenue report is
    then maintained PURELY from the emitted feed — pre-images retract,
    post-images add, via ``cdf_to_signed`` → ``signed_partial_state``
    — never reading any table snapshot. The oracle recomputes the
    aggregate from the FINAL table state relationally; hash-equality
    proves the emitted feed is the exact signed delta of every commit
    (a missing/extra/duplicated change row shifts a count or a cent).

    Scale: each commit's feed is bounded by the commit's touched rows,
    and the maintenance fold touches only the feed plus |status| state
    rows — the 100 TB table is never rescanned. The three feeds fold in
    one grouped sum here (⊕ is associative); production folds each
    commit as it lands.
    """
    from ..operators.incremental import (
        cdf_to_signed,
        finish_avg,
        signed_partial_state,
    )
    from ..operators.writers import read_table_changes

    path = _cdf_orders_table(spark, sf_dir)
    feed = read_table_changes(spark, path)  # all three commits' feeds
    state = signed_partial_state(
        cdf_to_signed(feed), ["o_orderstatus"], "o_totalprice"
    )
    return (
        finish_avg(state.filter(F.col("n") > 0), out="avg_price", round_to=2)
        .select("o_orderstatus", "n", "sum_u", "avg_price")
        .orderBy("o_orderstatus")
    )


OLAP_QUERIES["merge_cdf_ivm_roundtrip"] = merge_cdf_ivm_roundtrip


def skew_join_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed FACT-FACT join (VERDICT r10 item 5 — the
    actual 100 TB killer the salted-AGG path doesn't cover): 70% of
    events collapse onto one hot join key (``user_id % 10 < 7 → -1``),
    then join the raw fact against a per-(key, day) activity fact —
    the hot key fans out to every day row, the realistic "one customer
    is most of the traffic" shape. The aggregate is exact
    (2-dp fixed-point sums stay in BIGINT through the fanout).

    At scale this is the AQE ``OptimizeSkewedJoin`` showcase: the plan
    is a plain sort-merge join, and the runtime splits the hot key's
    shuffle partition into advisory-size chunks while replicating the
    matching right-side rows (``tests/test_skew_join.py`` pins
    ``skew=true`` in the executed plan under production-shaped
    thresholds; this gated twin pins the VALUES). No salting, no
    manual hot-key routing — the declarative plan stays one join, and
    the engine handles the imbalance.
    """
    ev = load_events(spark, sf_dir)
    sk = F.when(F.col("user_id") % 10 < 7, F.lit(-1)).otherwise(
        F.col("user_id")
    )
    left = ev.select(
        sk.alias("sk"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v2"),
    )
    right = (
        ev.select(sk.alias("sk"), F.to_date("ts").alias("day"))
        .groupBy("sk", "day")
        .agg(F.count(F.lit(1)).alias("n_day"))
    )
    return (
        left.join(right, "sk")
        .groupBy("sk")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("CAST(sum(v2) AS DOUBLE) / 100.0").alias("sum_value"),
        )
        .orderBy("sk")
    )


OLAP_QUERIES["skew_join_hot_keys"] = skew_join_hot_keys


ZSKIP_PRICE_LO, ZSKIP_PRICE_HI = 60000.0, 230000.0
ZSKIP_CUST_LO, ZSKIP_CUST_HI = 10, 140


def zorder_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max skipping, PROVEN (VERDICT r10 item 6 — the
    third layout lever beside partition pruning r10 and bucketing r10):
    write orders twice, z-order-grid clustered on (price, custkey) and
    1-D clustered on price alone (``writers.zorder_write_grid`` /
    ``cluster_write_grid`` — deterministic Morton-cell file boundaries,
    one parquet file per non-empty cell), then evaluate a 2-D range
    predicate purely from PARQUET FOOTERS (``writers.file_skip_report``
    — no data pages touched) and physically read only the surviving
    files. Output per layout: file count, files skipped, rows read
    (from footer metadata), and matching rows found in the read files.

    The oracle recomputes the whole thing RELATIONALLY — same min/max
    normalization, same Morton top-bits cell assignment, same skip rule
    over per-cell data bounds — so hash-equality proves the physical
    footers match the logical layout and the Morton layout skips where
    the 1-D layout can't (2-D predicates bound BOTH columns per cell).

    Scale: the report reads one footer per file (the job a table
    format's manifest does at 100 TB); the writes pay one clustering
    shuffle each — the pay-once-at-ingest trade the whole layout-lever
    family makes.
    """
    import os

    from ..operators.writers import (
        cluster_write_grid,
        file_skip_report,
        zorder_write_grid,
    )
    from ..tmputil import session_tmpdir

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = session_tmpdir("zskip_")
    zpath = os.path.join(root, "orders_zorder")
    cpath = os.path.join(root, "orders_price1d")
    zorder_write_grid(base, zpath, "o_totalprice", "o_custkey")
    cluster_write_grid(base, cpath, "o_totalprice")
    bounds = {
        "o_totalprice": (ZSKIP_PRICE_LO, ZSKIP_PRICE_HI),
        "o_custkey": (ZSKIP_CUST_LO, ZSKIP_CUST_HI),
    }
    pred = (
        F.col("o_totalprice").between(ZSKIP_PRICE_LO, ZSKIP_PRICE_HI)
        & F.col("o_custkey").between(ZSKIP_CUST_LO, ZSKIP_CUST_HI)
    )
    rows = []
    for layout, path in (("price1d", cpath), ("zorder", zpath)):
        rep = file_skip_report(path, bounds)
        kept = [r["path"] for r in rep if not r["skip"]]
        matched = (
            spark.read.parquet(*kept).filter(pred).count() if kept else 0
        )
        rows.append(
            (
                layout,
                len(rep),
                sum(r["skip"] for r in rep),
                sum(r["n_rows"] for r in rep if not r["skip"]),
                matched,
            )
        )
    return spark.createDataFrame(
        rows,
        "layout string, n_files bigint, n_skipped bigint, "
        "rows_read bigint, rows_matched bigint",
    ).orderBy("layout")


OLAP_QUERIES["zorder_skipping_report"] = zorder_skipping_report


def sql_scripting_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (``BEGIN … END`` with DECLARE / SET /
    WHILE / IF — the BigQuery procedural-SQL surface, one step past
    r10's session variables): an iterative driver program written
    entirely in SQL, here a BINARY SEARCH for the exact 2-dp median of
    ``events.value`` — the classic "control flow around queries"
    pattern ETL users script in stored procedures. The oracle computes
    the same median in one pass via the value-grain rank walk (a
    different mechanism entirely), plus the row count and the CDF count
    at the cut — three values that only agree if the scripted loop
    converged to the true quantile.

    Scale shape: the table is folded ONCE into its value-grain
    histogram (one shuffle, ≤ grid-size rows, materialized to parquet —
    the same mergeable state ``quantile_rollup_cascade`` maintains);
    the ~17 loop iterations (log2 of the 2-dp grid, data-size
    INDEPENDENT) then aggregate the tiny histogram, so the script costs
    one table scan total at any scale — iterating the raw 100 TB scan
    per probe is exactly what this layout avoids.
    """
    # one shard, eagerly localCheckpointed (r15, guide §5): the ~17
    # probe statements then scan a single in-memory block instead of
    # re-opening a parquet file per probe — same materialization
    # barrier as the old write+read-back, no /tmp footprint, no
    # per-probe file listing/footer I/O. The loop pays statement
    # latency, not fan-out or I/O.
    (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .coalesce(1)
        .localCheckpoint(eager=True)
        .createOrReplaceTempView("script_hist")
    )
    script = """
        BEGIN
            DECLARE n BIGINT;
            DECLARE lo BIGINT;
            DECLARE hi BIGINT;
            DECLARE mid BIGINT;
            DECLARE cnt BIGINT;
            SET n = (SELECT sum(c) FROM script_hist);
            -- bracket from the DATA on both ends (code-review r11: a
            -- zero lower bound silently mis-answers negative domains)
            SET lo = (SELECT min(v2) FROM script_hist);
            SET hi = (SELECT max(v2) FROM script_hist);
            WHILE lo < hi DO
                -- lo + (hi-lo) DIV 2, not (lo+hi) DIV 2: DIV truncates
                -- toward zero, so a negative bracket could yield
                -- mid == hi and loop forever; this form floors.
                SET mid = lo + (hi - lo) DIV 2;
                SET cnt = (SELECT coalesce(sum(c), 0) FROM script_hist
                           WHERE v2 <= mid);
                IF cnt >= (n + 1) DIV 2 THEN
                    SET hi = mid;
                ELSE
                    SET lo = mid + 1;
                END IF;
            END WHILE;
            SET cnt = (SELECT coalesce(sum(c), 0) FROM script_hist
                       WHERE v2 <= lo);
            SELECT n AS n_values,
                   CAST(lo AS DOUBLE) / 100.0 AS median_2dp,
                   cnt AS n_at_or_below;
        END
    """
    # The script executes LAZILY (CompoundBody resolves at action time),
    # and each of its ~17 statements is a separate mini-query — AQE
    # re-planning per statement multiplies the loop's fixed latency ~2.5x
    # for zero benefit on a KB-scale single-task probe. Scope it off for
    # the script only (the histogram build above keeps it), materialize
    # the 1-row result eagerly, restore.
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        rows = spark.sql(script).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # Arrow/pandas local relation (r15, guide §6 "Arrow for driver
    # transfers"): the list-of-Rows path parallelizes 1 row into 32
    # pickled slices whose noop save pays a Python deserializer
    # handshake per slice (~0.27 s profiled).
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            [tuple(r) for r in rows],
            columns=["n_values", "median_2dp", "n_at_or_below"],
        ),
        schema="n_values bigint, median_2dp double, n_at_or_below bigint",
    )


OLAP_QUERIES["sql_scripting_pack"] = sql_scripting_pack


def daily_bitmap_state(ev: DataFrame) -> DataFrame:
    """Per-(type, day, id-bucket) 64-bit membership mask — EXACT
    distinct-count state in mergeable form (the roaring-bitmap idea on
    the engine's own BIGINT ops): user u sets bit ``u mod 64`` of
    bucket ``u div 64``; masks merge across any slices by ``bit_or``
    (idempotent, associative, commutative — re-adding a user is a
    no-op, unlike HLL this is lossless). Shared by the batch proof and
    the streaming fold so both prove the same state algebra.

    Bucketing is FLOOR division paired with the non-negative ``pmod``
    (code-review r11: bare ``div`` truncates toward zero, so a negative
    id would collide with a non-negative one in bucket 0 — e.g. -1 and
    63 both landing on (0, bit 63) — and undercount): bucket*64 + bit
    reconstructs the id exactly over the full BIGINT domain."""
    return (
        ev.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.expr("(user_id - pmod(user_id, 64)) div 64").alias("bucket"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("event_type", "d", "bucket")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )


def bitmap_distinct_report(day_states: DataFrame) -> DataFrame:
    """Serve month-level EXACT distincts from the daily bitmap states:
    bit_or across days, then popcount — never rescanning raw.

    Plan shape (r6 lesson — referencing an aggregated frame twice
    re-derives its subtree): the day-count and the mask merge both hang
    off ONE repartition("event_type") of the state, the day count as a
    window collect_set carried through the rollups by max — partitioning
    on a subset of every later grouping key, so neither the window nor
    either groupBy adds an exchange. One state-grain shuffle total
    (plus the state's own build)."""
    ds = day_states.repartition("event_type")
    w = Window.partitionBy("event_type")
    ds = ds.withColumn(
        "n_day_states", F.size(F.collect_set("d").over(w)).cast("bigint")
    )
    merged = ds.groupBy("event_type", "bucket").agg(
        F.expr("bit_or(mask)").alias("mask"),
        F.max("n_day_states").alias("n_day_states"),
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.max("n_day_states").alias("n_day_states"),
            F.sum(F.bit_count("mask")).cast("bigint").alias("distinct_users"),
        )
        .select("event_type", "n_day_states", "distinct_users")
        .orderBy("event_type")
    )


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-state family, EXACT-distinct member (VERDICT r10's
    family now spans count/sum/min/max → exact quantiles → HLL → exact
    bitmaps): per-day 64-bit membership bitmaps fold across the month
    by register-wise OR, and the month's distinct-user count is a
    popcount over the merged masks. The oracle computes
    COUNT(DISTINCT) directly from raw; hash-equality certifies the
    bitmap algebra is exact — the license to serve "distinct users this
    quarter" from daily rollups at 100 TB where COUNT(DISTINCT) over
    raw is the shuffle that kills the job, WITHOUT the HLL error bar.

    Scale: the raw scan partial-aggregates map-side into (type, day,
    bucket) masks — state size is |active id range| / 64 words per
    group (dense-id regime; sparse ids would pair this with a dict
    encode or roaring containers); every later exchange is mask-grain,
    and serving is popcount over state.
    """
    return bitmap_distinct_report(daily_bitmap_state(load_events(spark, sf_dir)))


OLAP_QUERIES["bitmap_distinct_users"] = bitmap_distinct_users


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the product-analytics question
    after the funnel COUNTS (``funnel_view_click_purchase``): for users
    whose first purchase follows their first view, how long did
    conversion take?  Exact integer-second latencies (microsecond NTZ
    difference — the session-timezone shift cancels in the
    subtraction), and EXACT median/p90 via the value-grain rank walk
    (the ``quantile_rollup_cascade`` mechanism) — no approx_percentile
    error bar in a metric teams alert on.

    Scale: two keyed min-aggregates + one equi-join on user (hash(user)
    clusters all three), then the walk runs on latency-GRAIN rows (≤
    distinct second values) — the single-partition window touches state
    the size of the value domain, never the fact table. The two 1-row
    funnel counters ride a broadcast scalar cross.
    """
    ev = load_events(spark, sf_dir)
    tv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    tp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(tv, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id", "tv")
        .agg(F.min("ts").alias("tp"))
    )
    lat = tp.select(
        F.expr(
            "(unix_micros(CAST(tp AS TIMESTAMP))"
            " - unix_micros(CAST(tv AS TIMESTAMP))) div 1000000"
        ).alias("s")
    )
    g = lat.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = g.withColumn("rk", F.sum("n").over(w_cum)).withColumn(
        "tot", F.sum("n").over(w_all)
    )
    # n_converted IS the walk's total — taking it here (not from a third
    # derivation of the latency subtree) keeps the plan at two scalar
    # crosses and one latency computation (r6 lesson).
    cuts = walk.agg(
        # coalesce: an empty walk (no conversions) must report 0 like
        # the oracle's COUNT, not NULL (code-review r11)
        F.coalesce(F.max("tot"), F.lit(0)).cast("bigint").alias("n_converted"),
        F.min(F.when(F.col("rk") >= F.expr("(tot + 1) div 2"), F.col("s")))
        .cast("bigint")
        .alias("median_s"),
        F.min(F.when(F.col("rk") >= F.expr("(9 * tot + 9) div 10"), F.col("s")))
        .cast("bigint")
        .alias("p90_s"),
    )
    counters = tv.agg(F.count(F.lit(1)).alias("n_viewed"))
    return counters.crossJoin(F.broadcast(cuts)).select(
        "n_viewed", "n_converted", "median_s", "p90_s"
    )


OLAP_QUERIES["funnel_time_to_convert"] = funnel_time_to_convert


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution READ path (the other half of
    ``merge_upsert_df(evolve_schema=True)``'s write story): two append
    batches land in one table directory with DIFFERENT schemas — the
    second adds ``o_orderstatus`` — and the scan reconciles them with
    ``mergeSchema``, NULL-backfilling the column for old files (the
    Delta/BigQuery add-column contract on plain parquet). The report
    groups by the evolved column with an explicit ``<missing>`` bucket,
    so the hash proves (a) both files' rows survive, (b) the backfill
    is NULL exactly for pre-evolution rows, (c) values through the
    evolved scan stay exact.

    Scale: mergeSchema unions footers at planning time (driver
    metadata); per-file reads project their own physical schema — no
    rewrite of old data, which at 100 TB is the point of add-column
    evolution.
    """
    import os

    from ..operators.relational import decimal_sum
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(session_tmpdir("schema_evo_"), "tbl")
    (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(path)
    )
    (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("append")
        .parquet(path)
    )
    evolved = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        evolved.groupBy(
            F.coalesce(F.col("o_orderstatus"), F.lit("<missing>")).alias(
                "status_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            decimal_sum(F.col("o_totalprice")).alias("sum_price"),
        )
        .orderBy("status_bucket")
    )


OLAP_QUERIES["schema_evolution_read"] = schema_evolution_read


def collation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATIONS through the gate: case-insensitive GROUP BY
    and equality via ``COLLATE UTF8_LCASE`` — the engine-level answer
    to the lower()-wrapping every case-insensitive pipeline hand-rolls
    (and the BigQuery ``und:ci`` collation surface). Half the rows are
    upper-cased deterministically; the collated group must fuse the
    case variants while ``count(DISTINCT mixed)`` (binary) still sees
    them apart — both facts in one output row per fused group, plus a
    collated-equality count against a mixed-case literal. The oracle
    gets the same answer via explicit lower() (equivalent for ASCII).

    Scale: collation is a comparator property of the exchange/sort —
    same one-shuffle grouped-aggregate plan, no expression wrapping of
    the key (and so no loss of future stats/pruning on the column).
    """
    load_events(spark, sf_dir).select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper(F.col("event_type"))
        )
        .otherwise(F.col("event_type"))
        .alias("mixed")
    ).createOrReplaceTempView("collation_ev")
    return spark.sql(
        """
        SELECT min(lower(mixed)) AS k,
               count(*) AS n,
               count(DISTINCT mixed) AS n_case_variants,
               count(CASE WHEN (mixed COLLATE UTF8_LCASE) = 'ViEw'
                          THEN 1 END) AS n_eq_view_ci
        FROM collation_ev
        GROUP BY mixed COLLATE UTF8_LCASE
        ORDER BY k
        """
    )


OLAP_QUERIES["collation_pack"] = collation_pack


AUDIENCE_A, AUDIENCE_B = "view", "purchase"


def bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET OPERATIONS on the exact-distinct bitmap state — the audience
    -overlap workload ("how many users did X AND Y / X OR Y / X but not
    Y") that sketch engines answer with theta sketches and an error
    bar; the 64-bit membership masks answer it EXACTLY with bitwise
    algebra: join the two event types' per-bucket masks full-outer on
    bucket, then popcount ``A&B`` / ``A|B`` / ``A&~B`` — never touching
    raw user ids again. The oracle recomputes all four counts from raw
    via distinct-set semijoins; equality proves the mask algebra (and
    the NULL-bucket handling: a bucket present on one side only) is
    exact.

    Scale: the overlap join is bucket-grain (|id range|/64 rows per
    side), so "intersect two 100 TB audiences" costs a join on state,
    not a shuffle of users — the same reason bitmap indexes win in
    ClickHouse/Druid audience engines.
    """
    ev = load_events(spark, sf_dir)
    # Both audiences come off one fact scan here, so the mask "join"
    # collapses to a conditional rollup — ONE bucket-grain shuffle, no
    # self-join, no re-derived state subtree (r6 lesson: filtering one
    # aggregated frame twice re-derives it — Catalyst pushes the
    # event-type filters through the aggregate and breaks reuse).
    # Separately-STORED audience states (the cross-table case) join
    # full-outer on bucket instead, hash(bucket)-co-located — the
    # algebra below is identical from the coalesced (ma, mb) pair on.
    j = (
        ev.filter(F.col("event_type").isin(AUDIENCE_A, AUDIENCE_B))
        .select(
            "event_type",
            F.expr("(user_id - pmod(user_id, 64)) div 64").alias("bucket"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("bucket")
        .agg(
            F.expr(
                f"bit_or(CASE WHEN event_type = '{AUDIENCE_A}' THEN bit"
                " ELSE CAST(0 AS BIGINT) END)"
            ).alias("ma"),
            F.expr(
                f"bit_or(CASE WHEN event_type = '{AUDIENCE_B}' THEN bit"
                " ELSE CAST(0 AS BIGINT) END)"
            ).alias("mb"),
        )
    )
    return j.agg(
        F.sum(F.bit_count("ma")).cast("bigint").alias("n_a"),
        F.sum(F.bit_count("mb")).cast("bigint").alias("n_b"),
        F.sum(F.bit_count(F.expr("ma & mb"))).cast("bigint").alias("n_and"),
        F.sum(F.bit_count(F.expr("ma | mb"))).cast("bigint").alias("n_or"),
        F.sum(F.bit_count(F.expr("ma & ~mb"))).cast("bigint").alias(
            "n_a_not_b"
        ),
    )


OLAP_QUERIES["bitmap_audience_overlap"] = bitmap_audience_overlap


def merge_cdf_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF → JOIN-aggregate maintenance, end-to-end: the per-market-
    segment revenue view (orders ⋈ customer) maintained PURELY from the
    change feeds the three versioned MERGE commits emit — the delta-
    propagation identity Δ(T ⋈ S) = ΔT ⋈ S for an unchanged dimension,
    with the feed's pre-images as retractions (the step past
    ``merge_cdf_ivm_roundtrip``'s single-table aggregate, and the
    real-feed replacement for ``ivm_join_revenue_retract``'s synthetic
    deltas). Shares the commit fixture with the single-table twin. The
    oracle recomputes the join-aggregate from the FINAL table state.

    Scale: the maintenance pass joins only the FEED (commit-bounded)
    against the broadcast dim and folds into |segments| state rows —
    the 100 TB base join is never re-touched; the group key lives on
    the dim side, so key-moves (a customer changing segment) would
    arrive as dim-side CDC, a separate feed this identity composes
    with.
    """
    from ..operators.incremental import (
        cdf_to_signed,
        finish_avg,
        signed_partial_state,
    )
    from ..operators.writers import read_table_changes

    path = _cdf_orders_table(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    feed = read_table_changes(spark, path)
    joined = cdf_to_signed(feed).join(
        dim, F.col("o_custkey") == F.col("c_custkey")
    )
    state = signed_partial_state(joined, ["c_mktsegment"], "o_totalprice")
    return (
        finish_avg(state.filter(F.col("n") > 0), out="avg_price", round_to=2)
        .select("c_mktsegment", "n", "sum_u", "avg_price")
        .orderBy("c_mktsegment")
    )


OLAP_QUERIES["merge_cdf_join_ivm"] = merge_cdf_join_ivm


def cdf_squash_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed COMPACTION (the Debezium/Delta "squash"): the change
    feeds of commits 2–3 on the shared CDF fixture collapse to one NET
    row per touched key (``incremental.cdf_compact_net_changes`` — one
    min_by/max_by aggregate, no self-join), classified insert (the key
    entered within the window) or update (first pre-image + last
    post-image; a key repriced in BOTH commits keeps its commit-2 pre
    and commit-3 post, the telescoped pair that preserves the IVM
    fold). The oracle derives every net row from the commit arithmetic
    directly — a squash that stitched a pre and post from different
    commits, mis-classified an insert-then-update, or dropped a
    touched key shifts a price or a row and fails the hash.

    Scale: compaction is what a consumer runs before shipping a day's
    feed — payload shrinks from O(commits x touched keys) to O(net
    keys), and the single grouped aggregate rides the feed's key
    distribution.
    """
    from ..operators.incremental import cdf_compact_net_changes
    from ..operators.writers import read_table_changes

    path = _cdf_orders_table(spark, sf_dir)
    feed = read_table_changes(spark, path).filter(
        F.col("_commit_version") >= 2
    )
    net = cdf_compact_net_changes(feed, ["o_orderkey"])
    return net.select(
        "o_orderkey",
        "net_change",
        F.col("first_pre.o_totalprice").alias("pre_price"),
        F.col("last_post.o_totalprice").alias("post_price"),
        F.col("last_post.o_orderstatus").alias("post_status"),
    ).orderBy("o_orderkey")


OLAP_QUERIES["cdf_squash_roundtrip"] = cdf_squash_roundtrip


KANON_K = 5
KANON_BAL_BUCKET = 1000.0


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIVACY AUDIT for release/training data — k-anonymity over a
    quasi-identifier tuple (the operator next to PII scrubbing in a
    data-release pipeline): customers grouped by (nation, account-
    balance bucket of {b}); any group smaller than k={k} is re-
    identifiable by joining those public attributes. One row out:
    total rows/groups, risky groups, rows at risk, and the smallest
    group size — the numbers a release gate thresholds on. The oracle
    recomputes the census relationally; exactness matters because "how
    many people are exposed" is not a metric to be approximately right
    about.

    Scale: one grouped count on the QI tuple + a one-row rollup —
    partial aggregation bounds the shuffle by |QI cells|, and the same
    two-level shape serves any wider QI set.
    """
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        cust.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / KANON_BAL_BUCKET).alias("bal_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cells.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count(F.when(F.col("n") < KANON_K, 1)).alias("n_risky_groups"),
        F.sum(F.when(F.col("n") < KANON_K, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.min("n").cast("bigint").alias("min_group_size"),
    )


k_anonymity_report.__doc__ = k_anonymity_report.__doc__.format(
    k=KANON_K, b=int(KANON_BAL_BUCKET)
)
OLAP_QUERIES["k_anonymity_report"] = k_anonymity_report


def weighted_median_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED quantiles — the robust-stats member the plain rank walk
    can't answer (``median_price_by_status`` weighs every row equally;
    a price's market weight is its QUANTITY): per return flag, the
    exact quantity-weighted median and p90 of the extended price, via
    the value-grain CUMULATIVE-WEIGHT walk — group to the 2-dp price
    grid summing integer quantity weights, running total per flag, cut
    at ceil(W/2) and ceil(9W/10). All-integer rank arithmetic (the
    engine-exact convention every quantile query here uses); no
    approx_percentile, no per-row expansion of weights (a naive
    "repeat each row quantity times" explodes 25x at this data — the
    grain walk touches |distinct prices| rows).

    Scale: one shuffle to (flag, price-grain), then flag-partitioned
    windows over grain rows — state bounded by the value domain, the
    same envelope as ``quantile_rollup_cascade``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            "l_returnflag",
            F.expr(
                "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("v2"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("l_returnflag", "v2")
        .agg(F.sum("q").alias("w"))
    )
    wf = Window.partitionBy("l_returnflag").orderBy("v2").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wa = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = g.withColumn("cw", F.sum("w").over(wf)).withColumn(
        "tw", F.sum("w").over(wa)
    )
    return (
        walk.groupBy("l_returnflag")
        .agg(
            F.max("tw").cast("bigint").alias("total_weight"),
            F.expr(
                "CAST(min(CASE WHEN cw >= (tw + 1) div 2 THEN v2 END)"
                " AS DOUBLE) / 100.0"
            ).alias("wmedian_price"),
            F.expr(
                "CAST(min(CASE WHEN cw >= (9 * tw + 9) div 10 THEN v2 END)"
                " AS DOUBLE) / 100.0"
            ).alias("wp90_price"),
        )
        .orderBy("l_returnflag")
    )


OLAP_QUERIES["weighted_median_prices"] = weighted_median_prices


# --- wave 5 (round 11): plan-shape families -------------------------------

Q21_LATE_DAYS = 90
Q21_TOPK = 20


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 PLAN SHAPE on the available columns (no
    l_commitdate/l_receiptdate in the driver's synthetic lineitem, so
    "late" is ship > order date + {d} days): suppliers who were the SOLE
    late shipper on a multi-supplier finished order — the canonical
    double-correlated EXISTS / NOT-EXISTS self-join.

    The oracle spells the textbook form (two correlated subqueries =
    three scans of lineitem). The engine DECORRELATES past what a
    generic rewrite produces: both the EXISTS ("another supplier in the
    order") and the NOT EXISTS ("no OTHER late supplier") collapse into
    two per-order counts over a single (orderkey, suppkey) grain —
    blame s iff s is late, n_late == 1, n_suppliers > 1. One scan of
    the fact, one shuffle: the orderkey-keyed join exchange also
    satisfies the (orderkey, suppkey) aggregate AND the per-order
    window (subset-key clustering), so neither adds an exchange. The
    supplier name join broadcasts.

    Scale: no self-join of lineitem ever materializes; state per order
    is two counters. Skewed mega-orders hit the window as one
    partition-local group (bounded by lines-per-order, ~7 in TPC-H).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
    )
    pair = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        pair.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_late") == 1)
            & (F.col("n_supp") > 1)
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(Q21_TOPK)
    )


q21_sole_late_supplier.__doc__ = q21_sole_late_supplier.__doc__.format(
    d=Q21_LATE_DAYS
)
OLAP_QUERIES["q21_sole_late_supplier"] = q21_sole_late_supplier


CEP_WITHIN_HOURS = 24


def cep_match_partials(events: DataFrame) -> DataFrame:
    """THE fixed-pattern CEP matcher — the single implementation both
    the batch query below and the streaming twin
    (``queries_stream.streaming_cep_funnel``) run, so the two can never
    silently diverge (the streaming twin's gate contract is "shares the
    batch oracle verbatim", which is only sound while the matcher is
    literally shared; code-review r11). Input: (user_id, ts, event_id,
    e) rows; output: the MERGEABLE per-user partials (match-count sum,
    first-match-ts min) for adjacent v->c->p completing within
    ``CEP_WITHIN_HOURS``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.withColumn("e1", F.lead("e", 1).over(w))
        .withColumn("e2", F.lead("e", 2).over(w))
        .withColumn("ts2", F.lead("ts", 2).over(w))
    )
    return (
        seq.filter(
            (F.col("e") == "v")
            & (F.col("e1") == "c")
            & (F.col("e2") == "p")
            & (
                F.col("ts2")
                <= F.col("ts") + F.expr(f"INTERVAL {CEP_WITHIN_HOURS} HOURS")
            )
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("ts").alias("first_match_ts"),
        )
    )


def cep_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE / Flink-CEP-style sequence pattern detection:
    per user, occurrences of the ADJACENT event pattern
    view -> click -> purchase completing WITHIN {h} hours (the
    ``PATTERN (V C P) ... WITHIN`` clause), over the totally-ordered
    per-user stream (ts, event_id tiebreak).

    Engine form: a fixed-length adjacent pattern with a within-clause
    needs no NFA — it is exactly k-1 ``lead()`` columns over the
    per-user window plus a row-local predicate, so the whole match
    stage is one shuffle (user partitioning) and stays inside
    whole-stage codegen. Variable-length patterns (Kleene closures)
    would switch to the ``transformWithState``/``applyInPandasWithState``
    stateful path (`streaming/stateful.py`); fixed patterns should not
    pay that price. NTZ interval arithmetic keeps the within-check
    timezone-free on both engines.

    Scale: per-user state is the window sort — bounded by events per
    user per partition; the match predicate is row-local.
    """
    e = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("e"),
    )
    return cep_match_partials(e).orderBy("user_id")


cep_pattern_funnel.__doc__ = cep_pattern_funnel.__doc__.format(
    h=CEP_WITHIN_HOURS
)
OLAP_QUERIES["cep_pattern_funnel"] = cep_pattern_funnel


RANGE_FRAME_US = 4 * 3600 * 1_000_000  # 4 hours in microseconds


def range_frame_peak_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native RANGE-frame window (the frame kind every other trailing
    query here avoided by exploding day-grain pairs): per user, the
    PEAK trailing-4-hour value sum — ``RANGE BETWEEN 4h PRECEDING AND
    CURRENT ROW`` over microsecond epoch ordering, then a per-user max.

    RANGE frames are tie-INCLUSIVE (every row with the same ordering
    value shares the frame), so the rolling sum is deterministic
    without an event_id tiebreak — unlike ROWS frames. Values ride as
    2-dp cents (int64) so partial sums are exact and engine-portable;
    epoch-microsecond ordering makes the Spark frame bound-for-bound
    identical to the oracle's ``RANGE BETWEEN INTERVAL 4 HOUR
    PRECEDING``. The epoch comes from PURE NTZ arithmetic
    (``timestampdiff`` against the NTZ epoch literal) — the
    ``unix_micros(cast(ntz as timestamp))`` idiom is only
    shift-invariant for fixed-offset session timezones, and a DST
    transition inside a frame would change epoch distances and skew
    membership vs the oracle's NTZ interval frame (code-review r11).

    Scale: one shuffle to user partitioning; frame evaluation is the
    sliding two-pointer pass over each sorted partition — O(rows), not
    O(rows x frame size).
    """
    e = load_events(spark, sf_dir).select(
        "user_id",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("us"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("v2"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-RANGE_FRAME_US, 0)
    )
    roll = e.withColumn("roll", F.sum("v2").over(w))
    return (
        roll.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("roll").cast("double") / F.lit(100.0)).alias(
                "peak_4h_value"
            ),
        )
        .orderBy("user_id")
    )


OLAP_QUERIES["range_frame_peak_window"] = range_frame_peak_window


Q2_REGION = "EUROPE"
Q2_SIZE = 5
Q2_TOPK = 100


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 PLAN SHAPE (no partsupp table, so "supply cost" is the
    minimum observed lineitem price per (part, supplier)): for each
    size-{size} part, every {region} supplier matching the region-wide
    MINIMUM cost for that part — the correlated scalar-subquery-
    against-an-aggregate pattern, ties kept (Q2 semantics).

    The oracle spells the correlated form (recomputing the per-part min
    per outer row). The engine decorrelates to a per-part window min
    over the (part, supplier) cost grain: region suppliers resolve via
    two broadcast dims into the fact scan, one composite-key exchange
    builds the cost grain (map-side partial min first), the window min
    + equality filter runs on the aggregated (small) set, and part
    attributes broadcast in after the filter so only surviving rows pay
    the dimension join. Final ordering is the Q2 sort with a full
    tiebreak (acctbal DESC, nation, supplier, part) so the top-k cut is
    total-order deterministic.

    Scale: lineitem is scanned once and shuffled once, at the already-
    reduced (part, supplier) grain; everything after the first
    aggregate is dimension-sized.
    """
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    rs = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    cost = (
        li.join(F.broadcast(rs), li.l_suppkey == rs.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("cents").alias("min_cents"))
    )
    wp = Window.partitionBy("l_partkey")
    best = cost.withColumn("pmin", F.min("min_cents").over(wp)).filter(
        F.col("min_cents") == F.col("pmin")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == Q2_SIZE
    ).select("p_partkey", "p_type")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(rs), best.l_suppkey == rs.s_suppkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            (F.col("min_cents").cast("double") / F.lit(100.0)).alias(
                "best_price"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(Q2_TOPK)
    )


q2_min_cost_supplier.__doc__ = q2_min_cost_supplier.__doc__.format(
    size=Q2_SIZE, region=Q2_REGION
)
OLAP_QUERIES["q2_min_cost_supplier"] = q2_min_cost_supplier


SPATIAL_RADIUS = 250
SPATIAL_MOD = 10_000
SPATIAL_CUST = (48_271, 0)
SPATIAL_SUPP_X = (31_337, 5)
SPATIAL_SUPP_Y = (65_537, 11)
SPATIAL_CUST_Y = (16_807, 0)


def spatial_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell spatial nearest-neighbor join: each customer's nearest
    supplier within planar radius {r} (squared-distance metric, exact
    int64), via ``operators/spatial.grid_within_radius`` — cell
    bucketing + 9-cell neighbor candidates + exact refine, never the
    |customers| x |suppliers| cross join the oracle runs.

    Coordinates are deterministic fixed-point hashes of the keys (the
    testdata has no geometry columns; both engines compute the same
    int64 expression). The supplier side (smaller by 15x) takes the x9
    neighbor expansion and broadcasts, so the customer side is never
    shuffled for candidates; the nearest pick is a struct-min aggregate
    (distance, then suppkey — the deterministic tie) on the in-radius
    candidates only.

    Scale: candidate count = density-bounded cell co-occupancy; the
    only exchange is the per-customer min over candidates. The
    brute-force oracle is O(|C| x |S|) and exists precisely to certify
    the pruning loses nothing.
    """
    from ..operators.spatial import grid_within_radius, hash_point

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        hash_point("c_custkey", SPATIAL_CUST[0], SPATIAL_CUST[1], SPATIAL_MOD)
        .alias("cx"),
        hash_point(
            "c_custkey", SPATIAL_CUST_Y[0], SPATIAL_CUST_Y[1], SPATIAL_MOD
        ).alias("cy"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        hash_point(
            "s_suppkey", SPATIAL_SUPP_X[0], SPATIAL_SUPP_X[1], SPATIAL_MOD
        ).alias("sx"),
        hash_point(
            "s_suppkey", SPATIAL_SUPP_Y[0], SPATIAL_SUPP_Y[1], SPATIAL_MOD
        ).alias("sy"),
    )
    pairs = grid_within_radius(
        cust, supp, SPATIAL_RADIUS, ("cx", "cy"), ("sx", "sy")
    )
    return (
        pairs.groupBy("c_custkey")
        .agg(F.min(F.struct("d2", "s_suppkey")).alias("m"))
        .select(
            "c_custkey",
            F.col("m.s_suppkey").alias("s_suppkey"),
            F.col("m.d2").alias("dist2"),
        )
        .orderBy("c_custkey")
    )


spatial_grid_knn.__doc__ = spatial_grid_knn.__doc__.format(r=SPATIAL_RADIUS)
OLAP_QUERIES["spatial_grid_knn"] = spatial_grid_knn


# --- wave 6 (round 11) -----------------------------------------------------

DPP_BUSY_FACTOR = 1.02


def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the Catalyst feature the static
    layout levers (partition_pruned_scan r10, bucketing r10, z-order
    skipping r11) don't cover: the pruning predicate is NOT known at
    plan time. Events land date-partitioned; the dim side is "busy
    days" (daily count > {f}x the average daily count) — a purely
    DATA-DEPENDENT day set no static rewrite can reach (contrast
    partition_pruned_scan, whose bounds are literals in the query).
    Catalyst plans a ``SubqueryBroadcast dynamicpruning`` under the
    fact scan's PartitionFilters: the dim side executes first, its
    broadcast result filters the DIRECTORY LISTING, and only busy-day
    partitions are ever read by the probe — at 100 TB, the difference
    between scanning 30 days and the 10 busy ones, decided at runtime.
    ``tests/test_wave6_ops.py`` pins the dynamicpruning node in the
    executed plan; the gate proves the answer equals a plain filtered
    aggregate (the oracle recomputes the busy set relationally).

    The avg threshold compares exact int64 counts against
    ``avg * {f}`` in IEEE double — both engines compute the identical
    expression on identical integers, so the busy set is
    deterministic. Cents accumulation keeps the value sum exact.
    """
    import os

    from ..tmputil import session_tmpdir

    root = session_tmpdir("dpp_join_")
    path = os.path.join(root, "events_by_day")
    ev = load_events(spark, sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )
    ev.repartition("event_date").write.partitionBy("event_date").mode(
        "overwrite"
    ).parquet(path)
    part = spark.read.parquet(path)
    daily = part.groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))
    # Deliberately an unpartitioned window, NOT the repo's cheaper
    # broadcast-scalar crossJoin idiom (VERDICT r11 item 8 suggested the
    # swap; tried in r12 and REVERTED): a crossJoin in the dim-side
    # subtree disqualifies Catalyst's PartitionPruning rule, the plan
    # loses its SubqueryBroadcast dynamicpruning filter entirely, and
    # runtime partition pruning — the thing this query exists to prove,
    # pinned by tests/test_wave6_ops.py — silently vanishes. The
    # WindowExec single-partition warning is bounded by the date domain
    # (day-grain rows), so it is the right trade here and only here.
    busy = (
        daily.withColumn(
            "avg_n", F.avg("n").over(Window.partitionBy())
        )
        .filter(F.col("n") > F.lit(DPP_BUSY_FACTOR) * F.col("avg_n"))
        .select("event_date")
    )
    return (
        part.join(F.broadcast(busy), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


dpp_partitioned_join.__doc__ = dpp_partitioned_join.__doc__.format(
    f=DPP_BUSY_FACTOR
)
OLAP_QUERIES["dpp_partitioned_join"] = dpp_partitioned_join


APPROX_PCT_ACCURACY = 100


def approx_rank_certificate(accuracy: int) -> "F.Column":
    """The GK median rank-guarantee certificate over columns
    (``n_rows``, ``r_le``, ``r_lt``): the answer's rank SPAN
    [r_lt + 1, r_le] must intersect target ± (n_rows/accuracy + 1).
    Factored out so the falsifiability test drives THIS expression —
    not a hand-copied re-derivation that would keep passing if the
    query's certificate were loosened (code-review r11)."""
    tol = F.expr(f"n_rows div {int(accuracy)} + 1")
    target = F.expr("(n_rows + 1) div 2")
    return (F.col("r_le") >= target - tol) & (F.col("r_lt") < target + tol)


def approx_quantile_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPROXIMATE-quantile path, certified: at 100 TB you serve
    p50 from ``percentile_approx`` (Greenwald-Khanna sketch, bounded
    memory, mergeable partials) — this query runs it per return flag
    at accuracy {acc} and CERTIFIES the published rank guarantee
    (|rank(answer) - target| <= n/accuracy) against exact rank counts,
    alongside the exact median from the value-grain walk for
    reference. The certificate handles tie runs properly: the sketch's
    answer is an actual element whose rank SPAN is
    [count(< v) + 1, count(<= v)]; the guarantee holds iff that span
    intersects the tolerance interval around the target rank. All rank
    arithmetic is int64.

    The oracle recomputes n and the exact median relationally and pins
    the certificate at literal TRUE — a hash mismatch means Spark's
    sketch violated its own bound (or the rank math drifted), the same
    certification pattern as prefix_filter_near_dups' recall-1.0 gate.

    Scale: the sketch aggregate is one pass + bounded per-group state;
    the certification rider (two conditional counts against the
    broadcast per-flag answers) is the part you'd sample or drop in
    production — the serving path is the first aggregate alone.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.expr(
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
        ).alias("v2"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", 0.5, APPROX_PCT_ACCURACY
        ).alias("apx")
    )
    ranks = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("l_extendedprice") <= F.col("apx"), 1))
            .alias("r_le"),
            F.count(F.when(F.col("l_extendedprice") < F.col("apx"), 1))
            .alias("r_lt"),
        )
    )
    # exact lower median on the cents grain (percentile_disc convention)
    g = li.groupBy("l_returnflag", "v2").agg(F.count(F.lit(1)).alias("c"))
    wf = (
        Window.partitionBy("l_returnflag")
        .orderBy("v2")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wa = Window.partitionBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = g.withColumn("cw", F.sum("c").over(wf)).withColumn(
        "tw", F.sum("c").over(wa)
    )
    exact = walk.groupBy("l_returnflag").agg(
        F.expr(
            "CAST(min(CASE WHEN cw >= (tw + 1) div 2 THEN v2 END)"
            " AS DOUBLE) / 100.0"
        ).alias("exact_median")
    )
    cert = approx_rank_certificate(APPROX_PCT_ACCURACY)
    return (
        ranks.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "exact_median",
            cert.alias("approx_in_bound"),
        )
        .orderBy("l_returnflag")
    )


approx_quantile_certified.__doc__ = approx_quantile_certified.__doc__.format(
    acc=APPROX_PCT_ACCURACY
)
OLAP_QUERIES["approx_quantile_certified"] = approx_quantile_certified


LINEAGE_N_LOADS = 3


def file_lineage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input-file row accounting via ``input_file_name()`` — the
    audit/debugging surface for multi-file landing zones (SURVEY §7
    deferred; VERDICT r11 item 3). The reference's load-job model
    implies per-load provenance (cf. `dags/ FXRate_Reporting_Pipeline.py:75-94`
    — one BigQuery load job per API fetch); here the landing zone is
    {n} deterministic loads of the events table (``load = pmod(event_id,
    {n})``, hive ``__load=K`` layout, exactly one parquet file per load
    — the same one-shuffle-task-per-leaf contract as
    ``zorder_write_grid``), and the lineage scan recovers provenance
    PURELY from the physical file path: ``input_file_name()`` →
    ``__load=K`` regexp, never the hive partition column. One output
    row per physical file with its row count, distinct users, id range,
    id checksum, and cents-exact value sum.

    The oracle recomputes the accounting relationally from the same
    load rule, so hash-equality certifies that file-path provenance
    matches the logical load slices AND that the writer kept its
    one-file-per-load contract (a fragmented load would emit two Spark
    rows for one oracle row — a row-count mismatch). A DuckDB
    ``read_parquet(..., filename=true)`` twin would need the tmpdir
    path inside a static SQL string; the relational twin is the
    repo-standard fixture pattern (``zorder_skipping_report``,
    ``time_travel_orders``) and is strictly stronger: it predicts what
    the filesystem must contain rather than re-reading it.

    Scale: ``input_file_name()`` is a zero-shuffle scan-local
    expression; the audit aggregates at file grain, so the shuffle
    carries one row per (file, user) partial for the distinct-user
    count and the final state is O(files) — at 100 TB with ~100k
    landed files this is a seconds-scale metadata-shaped job, the
    engine-side equivalent of a table format's per-file manifest
    census.
    """
    import os

    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "value"
    )
    root = os.path.join(session_tmpdir("lineage_"), "events_landing")
    (
        ev.withColumn("__load", F.pmod(F.col("event_id"), F.lit(LINEAGE_N_LOADS)))
        # one shuffle task owns each load -> exactly one file per leaf
        .repartition("__load")
        .write.mode("overwrite")
        .partitionBy("__load")
        .parquet(root)
    )
    scanned = spark.read.parquet(root).drop("__load").withColumn(
        "load_id",
        F.regexp_extract(F.input_file_name(), r"__load=(\d+)", 1).cast("bigint"),
    )
    return (
        scanned.groupBy(F.input_file_name().alias("file"), F.col("load_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.sum("event_id").alias("id_checksum"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .drop("file")
        .orderBy("load_id")
    )


file_lineage_scan.__doc__ = file_lineage_scan.__doc__.format(n=LINEAGE_N_LOADS)
OLAP_QUERIES["file_lineage_scan"] = file_lineage_scan


CEP_KLEENE_CAP = 4


def cep_kleene_matches(events: DataFrame) -> DataFrame:
    """THE Kleene-closure CEP matcher — ``PATTERN (V C+ P)`` with the
    closure bounded at {cap} clicks, completing WITHIN
    ``CEP_WITHIN_HOURS`` of the view — shared verbatim by the batch
    query below and the streaming twin
    (``queries_stream.streaming_cep_kleene``), the same
    single-implementation contract as :func:`cep_match_partials`.

    A variable-length adjacent pattern needs no NFA either: per user
    (ordered by ts, event_id) each row's ANCHOR is the most recent
    NON-click row strictly before it (a running ``max`` of a
    ``(rn, e, ts)`` struct over the unbounded-preceding frame — rn
    leads the struct, so the max IS the latest). A purchase matches
    iff its anchor is a view, the gap ``rn - anchor_rn - 1`` (the
    click-run length, >= 1 and <= {cap}) and the within-clause holds —
    every row between the last non-click and the purchase is a click
    BY CONSTRUCTION of the anchor, so no join or iteration is needed.
    A run longer than the cap is REJECTED (not truncated): the events
    adjacent to the purchase are clicks, so no shorter sub-match
    exists. Each purchase yields at most one match row.

    Input: (user_id, ts, event_id, e); output MATCH ROWS
    (user_id, view_ts, n_clicks, p_event_id, p_ts) — row grain so the
    streaming twin can keep only matches whose purchase is in the new
    batch (its tail is LONGER than a whole short match, unlike the
    fixed-length twin's, so batch-internal re-derivation must be
    filtered by purchase id, not prevented by tail length).

    Scale: one shuffle to user partitioning; both window functions
    share the sort; state per partition is the running anchor struct.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prevf = w.rowsBetween(Window.unboundedPreceding, -1)
    rows = events.withColumn("rn", F.row_number().over(w))
    anchored = rows.withColumn(
        "anchor",
        F.max(F.when(F.col("e") != "c", F.struct("rn", "e", "ts"))).over(
            prevf
        ),
    )
    run = F.col("rn") - F.col("anchor.rn") - 1
    return anchored.filter(
        (F.col("e") == "p")
        & (F.col("anchor.e") == "v")
        & (run >= 1)
        & (run <= CEP_KLEENE_CAP)
        & (
            F.col("ts")
            <= F.col("anchor.ts")
            + F.expr(f"INTERVAL {CEP_WITHIN_HOURS} HOURS")
        )
    ).select(
        "user_id",
        F.col("anchor.ts").alias("view_ts"),
        run.cast("bigint").alias("n_clicks"),
        F.col("event_id").alias("p_event_id"),
        F.col("ts").alias("p_ts"),
    )


cep_kleene_matches.__doc__ = cep_kleene_matches.__doc__.format(
    cap=CEP_KLEENE_CAP
)


def cep_kleene_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleene-closure CEP — ``PATTERN (V C+ P) WITHIN {h}h`` with the
    closure capped at {cap} (VERDICT r11 item 4: the one CEP shape the
    fixed-pattern twin documents as out of scope, carried WITHOUT
    transformWithState): per user, every purchase preceded by an
    adjacent run of 1..{cap} clicks immediately preceded by a view,
    within {h} hours of that view. Output per user: match count,
    first matched view ts, longest click run.

    The oracle is deliberately INDEPENDENT (the form ADVICE r11 asked
    for on the fixed twin): it enumerates each closure length as a
    separate consecutive-row-number self-join chain (m+2-way join,
    UNION ALL over m = 1..{cap}) — no anchor trick, no lead(), no
    shared misconception possible. A purchase's click-run length is
    unique, so the chains are disjoint and the union counts each match
    once.

    Scale: see :func:`cep_kleene_matches` — one shuffle, running-state
    window, no self-join; the oracle's join ladder is the thing the
    engine exists to avoid.
    """
    e = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("e"),
    )
    return (
        cep_kleene_matches(e)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("view_ts").alias("first_match_ts"),
            F.max("n_clicks").alias("longest_run"),
        )
        .orderBy("user_id")
    )


cep_kleene_funnel.__doc__ = cep_kleene_funnel.__doc__.format(
    h=CEP_WITHIN_HOURS, cap=CEP_KLEENE_CAP
)
OLAP_QUERIES["cep_kleene_funnel"] = cep_kleene_funnel


HISTORY_SKIP_BANDS = ((60000.0, 120000.0), (300000.0, 480000.0))


def history_skip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip planning FROM SNAPSHOT HISTORY METADATA ALONE (VERDICT r11
    item 7): after two MERGE commits on a versioned orders table (the
    ``time_travel_orders`` fixture shape), the current snapshot's
    per-file column stats come from ``writers.history_file_stats`` —
    the snapshot's data files, change-feed files excluded — and each
    price band's scan reads ONLY the files whose
    [min, max] intersects the band. Output per band: the snapshot row
    count summed from footers, the matched row count, and the exact
    cents price sum of the matches.

    The oracle recomputes the merged state and the band aggregates
    relationally; a hash match therefore proves the skip decisions
    dropped no matching file — the failure mode metadata-driven
    skipping exists to avoid. File COUNTS (kept/skipped) are
    deliberately absent from the gated output: merge-leaf boundaries
    depend on the session's shuffle partitioning, so they are not an
    engine-portable value — the pytest pins the mechanism (some file
    is actually skipped) where the session is controlled.

    Scale: two footer reads per data file (stats + census) and a
    pruned scan — at 100 TB the footer walk is the manifest read every
    lakehouse query starts with; the band scan is partition pruning's
    file-grain analog.
    """
    import os

    from ..operators.writers import history_file_stats, merge_upsert
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(session_tmpdir("history_skip_"), "orders_tbl")
    target = orders.filter(F.col("o_orderkey") % 3 != 0)
    merge_upsert(spark, path, target, keys=["o_orderkey"])
    source = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn(
            "o_totalprice", round_half_up(F.col("o_totalprice") * 1.1, 2)
        )
        .withColumn("o_orderstatus", F.lit("M"))
    )
    merge_upsert(spark, path, source, keys=["o_orderkey"])

    stats = history_file_stats(path, ["o_totalprice"])
    snapshot_rows = sum(s["n_rows"] for s in stats)
    out_rows = []
    for lo, hi in HISTORY_SKIP_BANDS:
        kept = [
            s["path"]
            for s in stats
            if not (
                s["mins"]["o_totalprice"] is not None
                and s["maxs"]["o_totalprice"] is not None
                and (
                    s["mins"]["o_totalprice"] > hi
                    or s["maxs"]["o_totalprice"] < lo
                )
            )
        ]
        if kept:
            agg = (
                spark.read.parquet(*kept)
                .filter(F.col("o_totalprice").between(lo, hi))
                .agg(
                    F.count(F.lit(1)).alias("n_matched"),
                    round_half_up(
                        decimal_sum(F.col("o_totalprice")), 2
                    ).alias("sum_price"),
                )
                .first()
            )
            n_matched, sum_price = agg[0], agg[1]
        else:
            n_matched, sum_price = 0, None
        out_rows.append((lo, hi, snapshot_rows, n_matched, sum_price))
    return spark.createDataFrame(
        out_rows,
        "band_lo double, band_hi double, snapshot_rows bigint, "
        "n_matched bigint, sum_price double",
    ).orderBy("band_lo")


OLAP_QUERIES["history_skip_scan"] = history_skip_scan


MSR_BUCKET_WIDTH = 50000.0  # price-bucket partition grain (5-12 leaves)


def manifest_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-DRIVEN SCAN PLANNING (SURVEY §7 r14 candidate, pulled
    forward — the read path the r13 commit-time stats manifest exists
    for): a versioned orders table partitioned by a derived
    ``price_bucket`` (so hive leaves genuinely segregate the skipped
    column), built by two MERGE commits (create, then a %2 status
    update — same keys, so no row changes bucket), is then read through
    ``writers.read_table_skipping``: per-file keep/skip decided from
    the snapshot's ``_snapshot_meta.json`` census (one metadata read,
    no footer opens), kept files scanned with ``basePath`` pinned so
    the hive partition column SURVIVES file-list reads — proven in the
    output by ``n_buckets`` (a count over the partition column itself,
    which a naive per-file scan would lose). Two price bands; per band:
    matched rows, exact cents sum, distinct buckets touched.

    The oracle recomputes the merged state and band aggregates
    relationally, so a hash match certifies the skip decisions dropped
    no matching file (the metadata-skipping failure mode) AND the
    basePath read reconstructed partition values exactly. The pytest
    additionally pins the mechanism: for a selective band the kept
    file list is a strict subset of the census, and the pruned read
    equals the unpruned ``read_table``.

    Scale: O(#files) driver-side decisions from one manifest read,
    then a scan proportional to the band's true file footprint — the
    manifest-planned scan every lakehouse query starts with; the
    engine never opens a skippable file.
    """
    import os

    from ..operators.writers import merge_upsert, read_table_skipping
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn(
        "price_bucket",
        F.floor(F.col("o_totalprice") / MSR_BUCKET_WIDTH).cast("bigint"),
    )
    keys = ["o_orderkey", "price_bucket"]
    path = os.path.join(session_tmpdir("manifest_skip_"), "orders_tbl")
    merge_upsert(
        spark, path, base.filter(F.col("o_orderkey") % 3 != 0),
        keys=keys, partition_col="price_bucket",
    )
    merge_upsert(
        spark, path,
        base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_orderstatus", F.lit("M")
        ),
        keys=keys, partition_col="price_bucket",
    )

    out_rows = []
    for lo, hi in HISTORY_SKIP_BANDS:
        pruned = read_table_skipping(
            spark, path, {"o_totalprice": (lo, hi)}
        )
        agg = (
            pruned.filter(F.col("o_totalprice").between(lo, hi))
            .agg(
                F.count(F.lit(1)).alias("n_matched"),
                round_half_up(
                    decimal_sum(F.col("o_totalprice")), 2
                ).alias("sum_price"),
                F.countDistinct("price_bucket").alias("n_buckets"),
            )
            .first()
        )
        out_rows.append((lo, hi, agg[0], agg[1], agg[2]))
    return spark.createDataFrame(
        out_rows,
        "band_lo double, band_hi double, n_matched bigint, "
        "sum_price double, n_buckets bigint",
    ).orderBy("band_lo")


OLAP_QUERIES["manifest_skipping_read"] = manifest_skipping_read


TDIFF_INSERT_OFFSET = 1_000_000_000
# Engine-portable canonical columns for the drift fingerprint:
# BIGINT/STRING/DATE casts and cents ints only (double string forms
# differ across engines); NULL-safe rendering happens inside
# reconcile.row_fingerprint.
TDIFF_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
    "CAST(o_orderdate AS DATE)",
    "o_orderpriority",
]


def _tdiff_replica(orders: DataFrame) -> DataFrame:
    """Deterministic drifted replica: keys %131 deleted, surviving keys
    %97 get a mutated priority, keys %173 re-inserted under offset
    keys — the three drift classes a reconciliation must separate."""
    mutated = orders.filter(F.col("o_orderkey") % 131 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("DRIFTED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    inserted = orders.filter(F.col("o_orderkey") % 173 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(TDIFF_INSERT_OFFSET)
    )
    return mutated.unionByName(inserted)


def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation of two table replicas
    (``operators.reconcile.bucketed_table_diff``): level-1 folds each
    side to {b} bucket digests (count + fingerprint sum + fingerprint
    xor over md5 KEY buckets), level-2 re-reads ONLY the disagreeing
    buckets at row grain and classifies drift as deleted / inserted /
    modified via a full-outer key join. Here the replica carries a
    deterministic drift (delete %131, mutate priority %97, re-insert
    %173 under offset keys); output per drift class: row count, key
    sum, key range.

    The oracle is deliberately protocol-free: it rebuilds the replica
    relationally and diffs by comparing the ACTUAL COLUMNS in a
    full-outer join — no buckets, no fingerprints — so a hash match
    certifies the digest protocol recovered the TRUE diff exactly
    (including that no (sum, xor) fingerprint collision masked a
    drifted bucket, and that key-bucketing kept each modification in
    one bucket rather than splitting it into a phantom delete+insert).

    Scale: the whole point — two digest passes whose shuffle is {b}
    rows per side, then row work proportional to drift x (n/{b})
    amplification; the naive full-outer join of two 100 TB replicas
    never happens.
    """
    from ..operators.reconcile import DIFF_BUCKETS, bucketed_table_diff

    _ = DIFF_BUCKETS  # doc formatting below
    orders = load_table(spark, sf_dir, "orders")
    diff = bucketed_table_diff(
        orders, _tdiff_replica(orders), "o_orderkey", TDIFF_COLS
    )
    return (
        diff.groupBy("diff_kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("key").alias("key_sum"),
            F.min("key").alias("min_key"),
            F.max("key").alias("max_key"),
        )
        .orderBy("diff_kind")
    )


table_diff_audit.__doc__ = table_diff_audit.__doc__.format(b=64)
OLAP_QUERIES["table_diff_audit"] = table_diff_audit


PEVO_CUTOVER = "2024-01-16"
PEVO_LO, PEVO_HI = "2024-01-10", "2024-01-22"
PEVO_TYPES = ("purchase", "view")


def partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION (Iceberg `ADD PARTITION FIELD`, the
    migration every long-lived 100 TB table eventually performs): the
    events landing zone is written under two specs split at
    {cut} — history partitioned by day alone, the newer slice by
    (day, type) — and ``io.read_partition_evolved`` reads them as ONE
    logical table. The report's predicate spans the cutover (days
    {lo}..{hi}, two event types), so its day bound prunes directories
    in BOTH layouts while the type IN-list prunes directories only in
    the evolved spec and data-filters the old one — the asymmetric
    pruning the pytest pins in the physical plan.

    The oracle computes the same report from the un-evolved events
    table, so a hash match certifies the cutover split is exact — no
    row duplicated or dropped at the boundary, values identical
    through both layouts (including event_type surviving its change
    from data column to directory key).

    Scale: spec evolution exists precisely so history is NOT
    rewritten; the query pays each layout's pruned scan and nothing
    else.
    """
    import os

    from ..io import read_partition_evolved
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    root = session_tmpdir("pevo_")
    v1 = os.path.join(root, "spec_v1_day")
    v2 = os.path.join(root, "spec_v2_day_type")
    cut = F.lit(PEVO_CUTOVER).cast("date")
    (
        ev.filter(F.col("event_date") < cut)
        .repartition("event_date")
        .write.partitionBy("event_date")
        .parquet(v1)
    )
    (
        ev.filter(F.col("event_date") >= cut)
        .repartition("event_date", "event_type")
        .write.partitionBy("event_date", "event_type")
        .parquet(v2)
    )
    table = read_partition_evolved(
        spark,
        [(v1, ["event_date"]), (v2, ["event_date", "event_type"])],
    )
    return (
        table.filter(
            F.col("event_date").between(
                F.lit(PEVO_LO).cast("date"), F.lit(PEVO_HI).cast("date")
            )
            & F.col("event_type").isin(*PEVO_TYPES)
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


partition_evolution_read.__doc__ = partition_evolution_read.__doc__.format(
    cut=PEVO_CUTOVER, lo=PEVO_LO, hi=PEVO_HI
)
OLAP_QUERIES["partition_evolution_read"] = partition_evolution_read


PEVO_UPD_MOD = 7  # pre-cutover rows with event_id % 7 == 0 get re-priced


def partition_evolution_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution RESOLVED FROM TABLE HISTORY (VERDICT
    r12 item 3; the r12 ``partition_evolution_read`` took caller-
    supplied layouts): the events table lives in the VERSIONED layout —
    committed under spec (event_date), then
    ``writers.evolve_partition_spec`` records the cutover to
    (event_date, event_type) as a metadata-only snapshot (history
    hardlinked, zero rewrite), then ONE
    ``writers.merge_upsert`` commit crosses the boundary:
    post-cutover rows land under the NEW spec's layout while updates to
    pre-cutover rows (event_id % {mod} == 0 re-priced x1.1) are
    rewritten IN PLACE under the OLD spec — Iceberg's
    spec-id-per-data-file semantics, expressed as layout dirs in the
    snapshot's own ``_snapshot_meta.json``. ``writers.read_table`` then
    reads the ONE logical table with no caller-supplied paths: the
    layout map comes from the snapshot, the union is by name, and the
    report predicate prunes each layout under its own spec (the pytest
    pins the asymmetric PartitionFilters in the executed plan).

    The oracle rebuilds the same state relationally (the %{mod}
    re-price applied to pre-cutover rows), so a hash match certifies
    the cross-boundary merge routed every row to the right layout with
    no duplicate/dropped keys at the cutover AND that the in-place old-
    spec rewrite carried exact values.

    Scale: evolve is O(#files) metadata; the merge reads/writes only
    the batch's partition footprint per layout (old layouts via
    broadcast key-scoped pruned scans); the report pays each layout's
    pruned scan — the migration a 100 TB table performs without
    touching history.
    """
    import os

    from ..operators.writers import (
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    keys = ["event_id", "event_date", "event_type"]
    path = os.path.join(session_tmpdir("pevoh_"), "events_tbl")
    cut = F.lit(PEVO_CUTOVER).cast("date")
    pre = ev.filter(F.col("event_date") < cut)
    merge_upsert(
        spark, path, pre, keys=keys, partition_col="event_date",
        keep_versions=3,
    )
    evolve_partition_spec(
        spark, path, ["event_date", "event_type"], keep_versions=3
    )
    post = ev.filter(F.col("event_date") >= cut)
    upd = pre.filter(F.col("event_id") % PEVO_UPD_MOD == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.1, 2)
    )
    merge_upsert(
        spark, path, post.unionByName(upd), keys=keys, keep_versions=3
    )
    table = read_table(spark, path)
    return (
        table.filter(
            F.col("event_date").between(
                F.lit(PEVO_LO).cast("date"), F.lit(PEVO_HI).cast("date")
            )
            & F.col("event_type").isin(*PEVO_TYPES)
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


partition_evolution_history.__doc__ = partition_evolution_history.__doc__.format(
    mod=PEVO_UPD_MOD
)
OLAP_QUERIES["partition_evolution_history"] = partition_evolution_history


def evolved_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED from a cross-boundary evolved merge (SURVEY §7
    r14 candidate pulled forward — the producer side of IVM over a
    spec-evolved table): the ``partition_evolution_history`` fixture's
    cross-cutover commit runs with ``emit_cdf=True``, so each layout's
    SCOPED merge emits its own pre/post-image slice (the feed stays
    bounded by the rewrite's partition footprint — the property the
    unpartitioned CDF path can't give) and the slices union by name
    under ``v_*/_change_data``. The query consumes the feed the IVM
    way: per event_type, insert count, update-pair count, and the
    SIGNED exact delta of the value sum (+post/+insert, −preimage,
    scaled-int micro-units) — exactly what a downstream aggregate folds
    to stay current without rescanning the table.

    The oracle rebuilds the induced change set relationally (inserts =
    post-cutover rows; update pairs = the %{mod} re-price pre/post
    images), so a hash match certifies the per-layout feed is EXACTLY
    the commit's induced delta — nothing leaked from untouched
    partitions, no image missing or doubled across the layout split.

    Scale: feed volume ∝ batch, never table; the signed fold is one
    grouped aggregate over the feed.
    """
    import os

    from ..operators.writers import (
        CDF_TYPE,
        evolve_partition_spec,
        merge_upsert,
        read_table_changes,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    keys = ["event_id", "event_date", "event_type"]
    path = os.path.join(session_tmpdir("pevocdf_"), "events_tbl")
    cut = F.lit(PEVO_CUTOVER).cast("date")
    pre = ev.filter(F.col("event_date") < cut)
    merge_upsert(
        spark, path, pre, keys=keys, partition_col="event_date",
        keep_versions=3,
    )
    evolve_partition_spec(
        spark, path, ["event_date", "event_type"], keep_versions=3
    )
    post = ev.filter(F.col("event_date") >= cut)
    upd = pre.filter(F.col("event_id") % PEVO_UPD_MOD == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.1, 2)
    )
    merge_upsert(
        spark, path, post.unionByName(upd), keys=keys, keep_versions=3,
        emit_cdf=True,
    )
    feed = read_table_changes(spark, path)
    w = F.when(F.col(CDF_TYPE) == "update_preimage", F.lit(-1)).otherwise(
        F.lit(1)
    )
    micro = F.col("w") * F.floor(F.col("value") * 1000000.0 + 0.5).cast(
        "bigint"
    )
    return (
        feed.withColumn("w", w)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col(CDF_TYPE) == "insert", 1)).alias(
                "n_insert"
            ),
            F.count(
                F.when(F.col(CDF_TYPE) == "update_postimage", 1)
            ).alias("n_update"),
            round_half_up(
                F.sum(micro).cast("double") / 1000000.0, 2
            ).alias("delta_sum"),
        )
        .orderBy("event_type")
    )


evolved_merge_cdf.__doc__ = evolved_merge_cdf.__doc__.format(mod=PEVO_UPD_MOD)
OLAP_QUERIES["evolved_merge_cdf"] = evolved_merge_cdf


PEVO_CUT2 = "2024-01-24"  # rollback boundary (CUT1 = PEVO_CUTOVER)
PEVO_RB_LO, PEVO_RB_HI = "2024-01-10", "2024-01-27"


def partition_spec_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec ROLLBACK — ``DROP PARTITION FIELD`` (VERDICT r13
    item 2, completing the evolution story): the events table commits
    under spec (event_date), evolves to (event_date, event_type),
    ingests a slice, then ``writers.drop_partition_field`` rolls the
    ACTIVE spec back to (event_date) — a third, metadata-only layout
    whose spec EQUALS the first's (per-file spec identity is the
    layout dir, Iceberg's spec-id-per-data-file, so duplicate specs
    across history are fine). One final ``merge_upsert`` then
    crosses BOTH boundaries in a single commit: late rows land under
    the rolled-back active spec while in-place re-prices hit rows
    living in the first layout (×1.2, event_id %{m7}!=0 and %{m5}==0)
    AND in the middle layout (×1.3, %{m3}==0) — three layouts, three
    routing targets, each read/write scope bounded by the batch's
    partition footprint under that layout's own spec.

    The oracle rebuilds the end state relationally (the ×1.1/%{m7}
    wave from the first cross-boundary merge plus both rollback-merge
    waves), so a hash match certifies that no key was duplicated,
    dropped, or double-updated across the evolve→rollback history and
    that every in-place rewrite carried exact values.

    Scale: rollback is O(#files) metadata like evolve; the pytest pins
    per-layout PartitionFilters — the date bound prunes directories in
    all THREE layouts while the type IN-list prunes only the middle
    (evolved) one.
    """
    import os

    from ..operators.writers import (
        drop_partition_field,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    keys = ["event_id", "event_date", "event_type"]
    path = os.path.join(session_tmpdir("pevorb_"), "events_tbl")
    cut1 = F.lit(PEVO_CUTOVER).cast("date")
    cut2 = F.lit(PEVO_CUT2).cast("date")
    pre = ev.filter(F.col("event_date") < cut1)
    mid = ev.filter(
        (F.col("event_date") >= cut1) & (F.col("event_date") < cut2)
    )
    late = ev.filter(F.col("event_date") >= cut2)

    merge_upsert(
        spark, path, pre, keys=keys, partition_col="event_date",
        keep_versions=3,
    )
    evolve_partition_spec(
        spark, path, ["event_date", "event_type"], keep_versions=3
    )
    upd_a = pre.filter(F.col("event_id") % PEVO_UPD_MOD == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.1, 2)
    )
    merge_upsert(
        spark, path, mid.unionByName(upd_a), keys=keys, keep_versions=3
    )

    drop_partition_field(spark, path, "event_type", keep_versions=3)
    upd_b = pre.filter(
        (F.col("event_id") % PEVO_UPD_MOD != 0)
        & (F.col("event_id") % 5 == 0)
    ).withColumn("value", round_half_up(F.col("value") * 1.2, 2))
    upd_c = mid.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.3, 2)
    )
    merge_upsert(
        spark, path, late.unionByName(upd_b).unionByName(upd_c),
        keys=keys, keep_versions=3,
    )

    table = read_table(spark, path)
    return (
        table.filter(
            F.col("event_date").between(
                F.lit(PEVO_RB_LO).cast("date"),
                F.lit(PEVO_RB_HI).cast("date"),
            )
            & F.col("event_type").isin(*PEVO_TYPES)
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


partition_spec_rollback.__doc__ = partition_spec_rollback.__doc__.format(
    m7=PEVO_UPD_MOD, m5=5, m3=3
)
OLAP_QUERIES["partition_spec_rollback"] = partition_spec_rollback


SMR_BUCKET_WIDTH = 20000.0   # ~25 price-bucket leaves at sf0.01
SMR_BANDS = ((40000.0, 90000.0), (350000.0, 420000.0))


def sharded_manifest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census-planned reads of a many-leaf partitioned table (the
    registry name predates the single inline census): the versioned
    orders table, partitioned by a derived ``price_bucket`` (width
    {w:.0f} → ~25 hive leaves), records every file's min/max in its
    snapshot sidecar at commit, and ``read_table_skipping`` decides
    keep/skip per file from that one JSON read. Two merge commits
    (create, then a %7 status flip — keys unchanged, so no row changes
    bucket; the second commit re-reads footers ONLY for rewritten
    leaves, reusing the previous census's entries for hardlinked
    files). Per price band × order status: matched rows and the exact
    cents sum.

    The oracle recomputes the merged state and band×status aggregates
    relationally, so a hash match certifies the census-served
    decisions dropped no matching file and the basePath read kept
    partition values exact.
    """
    import os

    from ..operators.writers import merge_upsert, read_table_skipping
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn(
        "price_bucket",
        F.floor(F.col("o_totalprice") / SMR_BUCKET_WIDTH).cast("bigint"),
    )
    keys = ["o_orderkey", "price_bucket"]
    path = os.path.join(session_tmpdir("bucketed_census_"), "orders_tbl")
    merge_upsert(
        spark, path, base, keys=keys, partition_col="price_bucket",
    )
    merge_upsert(
        spark, path,
        base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_orderstatus", F.lit("S")
        ),
        keys=keys, partition_col="price_bucket",
    )

    parts = []
    for lo, hi in SMR_BANDS:
        pruned = read_table_skipping(
            spark, path, {"o_totalprice": (lo, hi)}
        )
        parts.append(
            pruned.filter(F.col("o_totalprice").between(lo, hi))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_matched"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast(
                        "bigint"
                    )
                ).alias("sum_cents"),
            )
            .withColumn("band_lo", F.lit(lo))
            .withColumn("band_hi", F.lit(hi))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "band_lo", "band_hi", "o_orderstatus", "n_matched", "sum_cents"
    ).orderBy("band_lo", "o_orderstatus")


sharded_manifest_read.__doc__ = sharded_manifest_read.__doc__.format(
    w=SMR_BUCKET_WIDTH
)
OLAP_QUERIES["sharded_manifest_read"] = sharded_manifest_read


CDFR_MODS = (2, 5, 7)          # update-wave key classes (commits 2-4)
CDFR_FACTORS = (1.1, 0.9, 1.05)
CDFR_KEEP_FEEDS = 3            # feed retention: commits 2-4 readable


def cdf_retention_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEED RETENTION decoupled from data retention (VERDICT r13
    item 5 — Delta's ``delta.logRetentionDuration`` vs VACUUM split):
    four CDF-emitting MERGE commits build a versioned orders table,
    then ``expire_versions(keep_last=1, cdf_keep_last={keep})`` VACUUMs
    the data down to ONE snapshot while preserving the newest {keep}
    change feeds (swept snapshots' feeds move to ``<table>/_cdf/``,
    metadata rename). ``read_table_changes`` then serves an IVM
    consumer that lags behind VACUUM: the readable range (commits
    2–4 — live + preserved feeds transparently unioned) folds per
    commit into insert / update-pair counts and the SIGNED exact
    value delta (+post/+insert, −preimage, scaled-int micro-units).
    A consumer lagging past FEED retention (commit 1) gets a loud
    EXPIRED error instead of a silently incomplete range — pinned by
    pytest; this query certifies the readable range's VALUES.

    The oracle replays the four merges relationally and rebuilds each
    commit's induced change set from consecutive states, so a hash
    match certifies the preserved feeds are byte-equivalent to the
    deltas the swept snapshots emitted — nothing lost or doubled in
    the move.

    Scale: feeds are bounded by their commit's touched rows; the
    preserve step is one directory rename per swept feed — retention
    cost is O(#snapshots), never O(data).
    """
    import os

    from ..operators.writers import (
        CDF_TYPE,
        CDF_VERSION,
        expire_versions,
        merge_upsert,
        read_table_changes,
    )
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(session_tmpdir("cdfret_"), "orders_tbl")
    merge_upsert(
        spark, path, orders.filter(F.col("o_orderkey") % 3 != 0),
        keys=["o_orderkey"], keep_versions=10, emit_cdf=True,
    )
    for mod, fac, status in zip(
        CDFR_MODS, CDFR_FACTORS, ("M", "N", "P")
    ):
        src = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn(
                "o_totalprice",
                round_half_up(F.col("o_totalprice") * fac, 2),
            )
            .withColumn("o_orderstatus", F.lit(status))
        )
        merge_upsert(
            spark, path, src, keys=["o_orderkey"], keep_versions=10,
            emit_cdf=True,
        )

    expire_versions(path, keep_last=1, cdf_keep_last=CDFR_KEEP_FEEDS)

    feed = read_table_changes(spark, path)  # commits 2-4 readable
    w = F.when(F.col(CDF_TYPE) == "update_preimage", F.lit(-1)).otherwise(
        F.lit(1)
    )
    micro = F.col("w") * F.floor(
        F.col("o_totalprice") * 1000000.0 + 0.5
    ).cast("bigint")
    return (
        feed.withColumn("w", w)
        .groupBy(F.col(CDF_VERSION).alias("commit_version"))
        .agg(
            F.count(F.when(F.col(CDF_TYPE) == "insert", 1)).alias(
                "n_insert"
            ),
            F.count(
                F.when(F.col(CDF_TYPE) == "update_postimage", 1)
            ).alias("n_update"),
            F.sum(micro).alias("delta_u"),
        )
        .orderBy("commit_version")
    )


cdf_retention_feed.__doc__ = cdf_retention_feed.__doc__.format(
    keep=CDFR_KEEP_FEEDS
)
OLAP_QUERIES["cdf_retention_feed"] = cdf_retention_feed


ESD_SUBJECT_MOD = 41  # the deleted subject class: user_id % 41 == 0


def evolved_subject_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR subject deletion ACROSS a spec-evolved table (a flat
    rewrite under a carried layout map would brick the table, so the
    delete follows the snapshot's layout map): the
    ``partition_evolution_history`` fixture's table — history under
    (event_date), evolved slice under (event_date, event_type), the
    %{mod7} re-price applied across the cutover — then
    ``writers.delete_rows`` erases every row of the subject
    class user_id %{mods} == 0 in ONE commit: each layout rewritten
    without its matches UNDER ITS OWN SPEC, rewrite scope = the
    matching rows' leaf footprint per layout (collected driver-side,
    bounded by the subject's spread), untouched leaves hardlinked,
    fully-emptied leaves disappear (taken from the matches' physical
    file paths, never reconstructed from values). The final report
    (per event_date x type over the cutover band) reads the table
    post-delete.

    The oracle rebuilds the re-priced end state relationally MINUS the
    subject's rows, so a hash match certifies the per-layout delete
    removed exactly the subject everywhere — both specs, both sides
    of the cutover — and nothing else.

    Scale: delete cost is (matching leaves) x (their layouts);
    keep_versions bounds how long the subject stays time-travelable
    (the pytest pins leaf-grain behavior incl. the
    fully-deleted-leaf / re-link hazard).
    """
    import os

    from ..operators.writers import (
        delete_rows,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    keys = ["event_id", "event_date", "event_type"]
    path = os.path.join(session_tmpdir("esd_"), "events_tbl")
    cut = F.lit(PEVO_CUTOVER).cast("date")
    pre = ev.filter(F.col("event_date") < cut)
    merge_upsert(
        spark, path, pre, keys=keys, partition_col="event_date",
        keep_versions=3,
    )
    evolve_partition_spec(
        spark, path, ["event_date", "event_type"], keep_versions=3
    )
    post = ev.filter(F.col("event_date") >= cut)
    upd = pre.filter(F.col("event_id") % PEVO_UPD_MOD == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.1, 2)
    )
    merge_upsert(
        spark, path, post.unionByName(upd), keys=keys, keep_versions=3
    )
    delete_rows(
        spark, path, f"user_id % {ESD_SUBJECT_MOD} = 0", keep_versions=3
    )
    table = read_table(spark, path)
    return (
        table.filter(
            F.col("event_date").between(
                F.lit(PEVO_LO).cast("date"), F.lit(PEVO_HI).cast("date")
            )
            & F.col("event_type").isin(*PEVO_TYPES)
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


evolved_subject_delete.__doc__ = evolved_subject_delete.__doc__.format(
    mod7=PEVO_UPD_MOD, mods=ESD_SUBJECT_MOD
)
OLAP_QUERIES["evolved_subject_delete"] = evolved_subject_delete


def evolved_compaction_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layout small-file COMPACTION across a spec-evolved table
    (``compact_parquet`` follows the snapshot's layout map, as
    ``delete_rows`` does): the
    ``partition_evolution_history`` fixture's table is built with its
    first layout deliberately FRAGMENTED (AQE partition-coalescing
    scoped off for the seeding merge, so every shuffle task writes a
    file into every touched day leaf), then
    ``writers.compact_parquet`` rewrites each fragmented leaf
    to its size-targeted file count UNDER ITS OWN LAYOUT'S SPEC while
    already-compact leaves hardlink through unread, in ONE commit that
    carries the layout map. The report reads the compacted table.

    The oracle is ``partition_evolution_history``'s VERBATIM — the
    whole point of compaction is that it changes file layout and
    nothing else, so a hash match against the uncompacted state's
    oracle certifies zero rows/values lost, duplicated, or re-routed
    across layouts. The pytest pins the file mechanics (fragmented →
    1 per leaf, hardlinked untouched leaf, later merges still work).

    Scale: compaction is THE maintenance op for streaming-fed
    lakehouse tables; per-leaf scope means a skewed leaf is fixed
    without reading healthy ones, in any layout.
    """
    import os

    from ..operators.writers import (
        compact_parquet,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("event_date"),
    )
    keys = ["event_id", "event_date", "event_type"]
    path = os.path.join(session_tmpdir("evocompact_"), "events_tbl")
    cut = F.lit(PEVO_CUTOVER).cast("date")
    pre = ev.filter(F.col("event_date") < cut)
    prev_coal = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.enabled", "false"
    )
    try:
        merge_upsert(
            spark, path, pre, keys=keys, partition_col="event_date",
            keep_versions=3,
        )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coal
        )
    evolve_partition_spec(
        spark, path, ["event_date", "event_type"], keep_versions=3
    )
    post = ev.filter(F.col("event_date") >= cut)
    upd = pre.filter(F.col("event_id") % PEVO_UPD_MOD == 0).withColumn(
        "value", round_half_up(F.col("value") * 1.1, 2)
    )
    merge_upsert(
        spark, path, post.unionByName(upd), keys=keys, keep_versions=3
    )
    compact_parquet(spark, path)
    table = read_table(spark, path)
    return (
        table.filter(
            F.col("event_date").between(
                F.lit(PEVO_LO).cast("date"), F.lit(PEVO_HI).cast("date")
            )
            & F.col("event_type").isin(*PEVO_TYPES)
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


OLAP_QUERIES["evolved_compaction_read"] = evolved_compaction_read


CFC_KEEP_FEEDS = 4       # preserve every swept feed (3) + the live one
CFC_COMPACT_BEFORE = 1   # squash all preserved but the newest


def cdf_compacted_feed_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEED COMPACTION at retention time (VERDICT r14 item 3 — the
    missing bound on ``cdf_keep_last``'s storage): four CDF-emitting
    MERGE commits (create %3≠0, then the three
    ``cdf_retention_feed`` reprice waves), then
    ``expire_versions(keep_last=1, cdf_keep_last={keep},
    cdf_compact_before={before}, cdf_squash_keys=[o_orderkey])``
    VACUUMs the data to one snapshot, preserves every swept feed, and
    squashes all preserved feeds but the newest into ONE net-change
    feed (``incremental.cdf_squash_feed`` — raw feed shape,
    first-pre/last-post per touched key, real commit sequences). The
    IVM consumer then folds the WHOLE readable feed — net + granular +
    live, unioned transparently by ``read_table_changes`` — through
    the signed-retraction state exactly as ``merge_cdf_ivm_roundtrip``
    does; per-commit reads inside the squashed range raise loudly
    (pytest-pinned, ``tests/test_cdf.py``).

    The two ``n_*_feeds`` columns pin the MECHANISM in the hash: one
    squashed net feed on disk, one preserved per-commit feed — if
    compaction silently no-ops (or eats the granular tail) the
    constants, and therefore the row hash, shift.

    The oracle recomputes the final table state relationally and
    aggregates it; telescoping (retract first-pre + add last-post ≡
    every intermediate pair) makes the squashed fold land on the same
    state, so a hash match certifies the net feed is an EXACT
    replacement for the commits it swallowed — nothing lost, doubled,
    or mislabeled (the delete-then-reinsert edge included).

    Scale: the squash is one grouped min_by/max_by aggregate over the
    preserved feeds (bounded by touched keys, never table size) and
    one directory rename; a long-retention table's ``_cdf`` storage
    drops from O(commits × touched keys) to O(net keys) + K granular
    commits. Reference basis: the MERGE of
    ``dags/fx_pipeline_with_merge.py:90-103`` on an engine whose
    change feed ages into exactly this kind of compacted archive.
    """
    import os

    from ..operators.incremental import (
        cdf_to_signed,
        finish_avg,
        signed_partial_state,
    )
    from ..operators.writers import (
        _net_feed_ranges,
        expire_versions,
        merge_upsert,
        read_table_changes,
    )
    from ..tmputil import session_tmpdir

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = os.path.join(session_tmpdir("cdfcomp_"), "orders_tbl")
    merge_upsert(
        spark, path, orders.filter(F.col("o_orderkey") % 3 != 0),
        keys=["o_orderkey"], keep_versions=10, emit_cdf=True,
    )
    for mod, fac, status in zip(CDFR_MODS, CDFR_FACTORS, ("M", "N", "P")):
        src = (
            orders.filter(F.col("o_orderkey") % mod == 0)
            .withColumn(
                "o_totalprice",
                round_half_up(F.col("o_totalprice") * fac, 2),
            )
            .withColumn("o_orderstatus", F.lit(status))
        )
        merge_upsert(
            spark, path, src, keys=["o_orderkey"], keep_versions=10,
            emit_cdf=True,
        )

    expire_versions(
        path, keep_last=1, cdf_keep_last=CFC_KEEP_FEEDS,
        cdf_compact_before=CFC_COMPACT_BEFORE,
        cdf_squash_keys=["o_orderkey"], spark=spark,
    )
    nets = _net_feed_ranges(path)
    n_granular = sum(
        1
        for d in os.listdir(os.path.join(path, "_cdf"))
        if d.startswith("v_")
    )

    feed = read_table_changes(spark, path)  # net + granular + live
    state = signed_partial_state(
        cdf_to_signed(feed), ["o_orderstatus"], "o_totalprice"
    )
    return (
        finish_avg(state.filter(F.col("n") > 0), out="avg_price", round_to=2)
        .select(
            "o_orderstatus", "n", "sum_u", "avg_price",
            F.lit(len(nets)).cast("int").alias("n_net_feeds"),
            F.lit(n_granular).cast("int").alias("n_granular_feeds"),
        )
        .orderBy("o_orderstatus")
    )


cdf_compacted_feed_ivm.__doc__ = cdf_compacted_feed_ivm.__doc__.format(
    keep=CFC_KEEP_FEEDS, before=CFC_COMPACT_BEFORE
)
OLAP_QUERIES["cdf_compacted_feed_ivm"] = cdf_compacted_feed_ivm


LDR_TS_LO = "2024-01-08 00:00:00"
LDR_TS_HI = "2024-01-19 23:59:59.999999"


def lakehouse_daily_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical DAILY REPORT served END-TO-END through
    the lakehouse read path (VERDICT r14 item 5 — the manifest planner
    existed but the reporting surface still scanned raw dirs): events
    land in a VERSIONED table partitioned by day
    (``merge_upsert(partition_col="day")`` — ~30 day leaves, each
    file's min/max recorded inline in the snapshot sidecar at commit),
    then the report reads it with ``read_table_skipping`` on a
    {days}-day ``ts`` band: the keep/skip decision runs per file over
    the census (checked against the live file listing), day leaves
    outside the band never reach the scan, and the surviving files
    feed the same grouped daily AVG as ``daily_avg_report``
    (README.md:50-64 — per-day per-type mean, 4 dp).

    The oracle computes the identical report straight off the raw
    events parquet with the band as a WHERE clause — a hash match
    certifies the landed table, the census, the planner, and the
    pruned scan TOGETHER reproduce the direct
    answer: nothing skipped that matters, nothing double-served.

    Scale: this is the shape every 100 TB reporting query should take
    — one commit-time footer walk amortized into the census, then
    per-query planning that reads the census (not footers) and a
    scan proportional to the band's true file footprint. The ts
    bounds prune at FILE level because the day-partitioned writer
    makes per-file ts ranges tight; the filter inside still finishes
    the row-level job (planning is a superset guarantee, never a
    filter).
    """
    import datetime
    import os

    from ..operators.writers import merge_upsert, read_table_skipping
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    base = ev.withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    path = os.path.join(session_tmpdir("lakerep_"), "events_tbl")
    merge_upsert(
        spark, path, base, keys=["event_id", "day"],
        partition_col="day",
    )
    lo = datetime.datetime.fromisoformat(LDR_TS_LO)
    hi = datetime.datetime.fromisoformat(LDR_TS_HI)
    pruned = read_table_skipping(spark, path, {"ts": (lo, hi)})
    return (
        pruned.filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
        .groupBy(
            F.to_date("ts").alias("report_date"),
            F.col("event_type"),
        )
        .agg(
            round_half_up(decimal_avg(F.col("value")), 4).alias("avg_rate"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("report_date", "event_type")
    )


lakehouse_daily_report.__doc__ = lakehouse_daily_report.__doc__.format(
    days=12
)
OLAP_QUERIES["lakehouse_daily_report"] = lakehouse_daily_report


ELP_TS_LO = "2024-01-03 00:00:00"
ELP_TS_HI = "2024-01-09 23:59:59.999999"
ELP_CUT_DAY = "2024-01-16"   # spec-evolution cutover: later days land
                             # in the (day, event_type) layout


def evolved_layout_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-LAYOUT pruning on a spec-evolved table: events before
    {cut} land under a (day)-partitioned layout, the spec then evolves
    to (day, event_type), and the post-cutover days land under the new
    layout via ``merge_upsert``. The {band}-day ``ts`` band lies
    entirely before the cutover, so the census's per-file rule skips
    every file of ``layout_001`` and the read never opens that layout;
    within the surviving layout only the band's day files are kept.

    The oracle computes the identical per-day report straight off the
    raw events parquet — a hash match certifies the evolved landing,
    the census, and the per-file prune across both layouts together
    lose and double nothing.

    Scale: at 100 TB a spec evolution's historical layout is most of
    the table; a predicate outside its range costs one census decision
    per file and no data read. Reference basis: the reference's
    date-partitioned reporting table (``dags/fx_pipeline_with_merge
    .py:70-88``) after the second partition dimension earns its keep.
    """
    import datetime
    import os

    from ..operators.writers import (
        evolve_partition_spec,
        merge_upsert,
        read_table_skipping,
    )
    from ..tmputil import session_tmpdir

    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    base = ev.withColumn(
        "day", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    keys = ["event_id", "day", "event_type"]
    path = os.path.join(session_tmpdir("evolprune_"), "events_tbl")
    merge_upsert(
        spark, path, base.filter(F.col("day") < ELP_CUT_DAY),
        keys=keys, partition_col="day", keep_versions=3,
    )
    evolve_partition_spec(
        spark, path, ["day", "event_type"], keep_versions=3
    )
    merge_upsert(
        spark, path, base.filter(F.col("day") >= ELP_CUT_DAY),
        keys=keys, keep_versions=3,
    )
    lo = datetime.datetime.fromisoformat(ELP_TS_LO)
    hi = datetime.datetime.fromisoformat(ELP_TS_HI)
    pruned = read_table_skipping(spark, path, {"ts": (lo, hi)})
    return (
        pruned.filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
        .groupBy(
            F.to_date("ts").alias("report_date"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(decimal_sum(F.col("value")), 2).alias("sum_value"),
        )
        .orderBy("report_date", "event_type")
    )


evolved_layout_pruned_read.__doc__ = evolved_layout_pruned_read.__doc__.format(
    cut=ELP_CUT_DAY, band=7
)
OLAP_QUERIES["evolved_layout_pruned_read"] = evolved_layout_pruned_read
