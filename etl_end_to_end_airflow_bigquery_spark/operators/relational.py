"""Relational building blocks the reference expresses in BQ-SQL / pandas.

Each helper is a thin, composable DataFrame transform. Nothing here adds
a custom execution path — the point is to pin the reference's semantics
(deterministic top-k, latest-wins, guarded counts) onto plans Catalyst
already executes well (TakeOrderedAndProject, partial+final aggregates,
window functions without extra shuffles when partitioning aligns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, keys: list[str], order_cols: list[Column]
) -> DataFrame:
    """Latest-wins row per key (§2.5; the MERGE 'latest analysis of the
    day overwrites previous' semantic, README.md:8,66).

    One shuffle on ``keys``; ``row_number`` needs no second shuffle when
    a downstream agg groups by the same keys.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def decimal_sum(col: Column, digits: int = 6, wide: bool = False) -> Column:
    """Order-insensitive double summation via exact fixed-point integers.

    Double addition is not associative, so a parallel sum's low bits vary
    with partitioning — poison for value-hash comparison against another
    engine. Scaling each element by 10^digits and flooring to BIGINT
    makes the sum exact integer arithmetic (order-independent); both
    engines then convert the identical integer to the identical nearest
    double. ~4× faster than a DECIMAL accumulator and bit-stable at any
    partitioning.

    Overflow is never silent: ``session.get_spark`` pins
    ``spark.sql.ansi.enabled=true``, so an int64 accumulator overflow
    raises ARITHMETIC_OVERFLOW instead of wrapping (the DuckDB oracle
    promotes to HUGEINT and stays exact — a wrap here would diverge
    silently). For sums where |sum|·10^digits can exceed int64 (wide
    fact-table totals at high SF: ~6e8 rows · 4e4 · 1e6 > 2^63) pass
    ``wide=True`` to accumulate in DECIMAL(38,0) — still exact and
    associative, headroom to 10^38.
    """
    p = float(10**digits)
    scaled = F.floor(col * F.lit(p) + F.lit(0.5))
    if wide:
        scaled = scaled.cast("decimal(38,0)")
    return F.sum(scaled).cast("double") / F.lit(p)


def decimal_avg(col: Column, digits: int = 6, wide: bool = False) -> Column:
    """Order-insensitive average: exact fixed-point sum / count."""
    return decimal_sum(col, digits, wide=wide) / F.count(col)


def round_half_up(col: Column, digits: int) -> Column:
    """ROUND(x, n) with engine-portable tie behavior (F8).

    Engines disagree on exact .5 ties: Spark rounds the exact binary
    expansion via BigDecimal HALF_UP, DuckDB scales in floating point —
    e.g. round(38.37875, 4) differs. Spelling the round as explicit IEEE
    ops (floor(abs(x)·10ⁿ + 0.5)·sign(x)/10ⁿ) makes both engines execute
    the same instructions, so results match bit-for-bit everywhere,
    including ties. The oracle side mirrors this formula verbatim
    (oracles._round).
    """
    p = float(10**digits)
    magnitude = F.floor(F.abs(col) * p + F.lit(0.5)).cast("double") / F.lit(p)
    return magnitude * F.when(col < 0, F.lit(-1.0)).otherwise(F.lit(1.0))


def table_diff(
    old: DataFrame, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Snapshot diff → CDC rows: compare two versions of a table on
    ``keys`` and emit one row per changed key with ``change_type`` in
    ('insert', 'delete', 'update'). The read-side inverse of MERGE:
    given yesterday's and today's snapshots, this is the change feed a
    downstream consumer replays.

    One full-outer equi-join on the keys (shuffle both sides, or
    partition-prune to the suspected-change window at scale); non-key
    columns compare as a single struct so schema growth doesn't add
    join passes. Unchanged keys drop out before the output.
    """
    attrs = [c for c in old.columns if c not in keys]
    o = old.select(*keys, F.struct(*attrs).alias("_old"))
    n = new.select(*keys, F.struct(*attrs).alias("_new"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type", "_old", "_new")
    )


def global_cumsum(
    df: DataFrame,
    order_by: list[str],
    value: str,
    out: str = "running",
    cache_registry: list | None = None,
) -> DataFrame:
    """Row-level running sum over a GLOBAL order — without the
    single-partition trap.

    ``sum().over(Window.orderBy(...))`` with no partitionBy collapses
    the whole input into ONE task (Spark even warns); every existing
    running total in this repo dodges that by windowing post-aggregate
    frames that are small by construction. This operator is for when
    the running sum must be computed at row grain: the classic
    distributed prefix-sum.

    Plan: range-repartition on the order columns (so partition i holds
    a contiguous, sorted-disjoint slice), compute each partition's
    local prefix sums with a per-partition window (parallel — the
    window partitions on the physical partition id), then lift local to
    global by adding the exclusive prefix of the per-partition totals —
    a #partitions-row frame, computed on the driver and broadcast back.
    Driver state is bounded by the partition count, never the data.

    The ranged frame is persisted (MEMORY_AND_DISK) across the two
    passes: range-partitioner boundaries come from sampling, so the
    totals pass and the output pass MUST see the same physical
    partitioning — recomputing the exchange could re-sample different
    boundaries and mis-align the offsets. Same bounded-barrier class as
    the quantizer-training materializations in ``similarity.py``.
    The cache lives until the session's LRU evicts it (disk-spillable,
    so eviction is safe); it cannot be unpersisted inside this function
    because the RETURNED plan still reads it. Long-lived sessions
    running many cumsum passes should pass ``cache_registry=[]`` — the
    persisted frame is appended to it, to ``unpersist()`` once the
    result is consumed (ADVICE r05).

    ``order_by`` must be a global total order for a deterministic
    per-row result; with ties, row-level assignments within a tie group
    are arbitrary but the multiset of running values in the group is
    not (the same values are summed in some order), so aggregates over
    the running column (max per bucket, final total) stay
    deterministic. Ascending order only — encode descending keys by
    negating the column before calling.

    ``value`` should be integer-typed (or exact decimal): the whole
    point of the two-phase sum is associativity, which doubles lack.
    """
    from pyspark import StorageLevel

    ranged = (
        df.repartitionByRange(*[F.col(c) for c in order_by])
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if cache_registry is not None:
        cache_registry.append(ranged)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local", F.sum(value).over(w))
    totals = sorted(
        (r["__pid"], r["__tot"])
        for r in ranged.groupBy("__pid")
        .agg(F.sum(value).alias("__tot"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, tot in totals:
        offsets.append((pid, acc))
        acc += tot or 0
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__pid int, __offset bigint")
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(out, (F.col("__local") + F.col("__offset")).cast("bigint"))
        .drop("__pid", "__local", "__offset")
    )
