"""Skew handling for hot-key aggregates at 100 TB (SURVEY.md §4 item 3).

First line of defense is AQE (``spark.sql.adaptive.skewJoin.enabled``,
on in the session factory), which splits oversized join partitions at
runtime. What AQE cannot split is the final stage of an aggregate whose
grouping keys are few and hot; :func:`salted_count_sum` spreads that
over salted reducers and stays bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    salt_src: str,
    buckets: int = 16,
    digits: int = 6,
) -> DataFrame:
    """Two-phase (salted) count + exact-decimal sum for aggregations whose
    grouping keys are few and hot (e.g. 5 event types over billions of
    rows).

    A plain ``groupBy(keys)`` already does a map-side partial aggregate,
    but with very low key cardinality the *final* stage lands every key
    on one reducer each — fine until a single key's partials overflow one
    task at extreme scale or AQE coalesces too far. Salting the first
    phase by ``hash(salt_src) % buckets`` spreads each key over
    ``buckets`` reducers, and the second phase combines ``buckets`` tiny
    partials per key. Counts add as BIGINT and sums accumulate as
    fixed-point BIGINT (see ``relational.decimal_sum``), so the two-phase
    result is bit-identical to the one-phase aggregate — re-association
    is exact in integer space.

    Output columns: ``keys…, n_rows, sum_value``.
    """
    p = float(10**digits)
    phase1 = (
        df.withColumn("__salt", F.pmod(F.hash(F.col(salt_src)), F.lit(buckets)))
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.floor(F.col(value_col) * F.lit(p) + F.lit(0.5))).alias("__s"),
        )
    )
    return phase1.groupBy(*keys).agg(
        F.sum("__n").alias("n_rows"),
        (F.sum("__s").cast("double") / F.lit(p)).alias("sum_value"),
    )

