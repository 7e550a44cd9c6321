"""Parquet table loading for the driver's synthetic testdata.

Reference analog: the BigQuery table scan (`client.query(sql)`,
``dags/ FXRate_Reporting_Pipeline.py:141-144``) becomes
``spark.read.parquet`` — Catalyst handles predicate pushdown and column
pruning, so callers should express filters/projections on the returned
DataFrame rather than pre-materializing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_cpus

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _tune(spark: SparkSession) -> None:
    """Runtime-settable tuning for caller-owned sessions.

    The driver constructs its own SparkSession; if it still carries the
    stock 200 shuffle partitions (oversized for this host), size it to
    the local core budget, and make sure AQE is on. Only the stock value
    is overridden — an explicitly configured session is respected.
    """
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", local_cpus())
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass  # tuning must never break a query


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to default parallelism IFF the plan
    resolves to fewer partitions (r15, guide §2.5 "input skew —
    repartition immediately after the read").

    Compute-dense single-pass stages (in-row higher-order-function
    folds: BPE merge application, shingle/minhash folds, in-row
    quantizer assignment) otherwise serialize on the one task a tiny
    single-file scan produces. At scale the scan already carries
    ≥ parallelism splits and this returns ``df`` unchanged — no
    exchange is added where the data is big. Safe only for
    partitioning-independent computations (exact/associative
    aggregates, per-row projections); round-robin repartition is
    retry-safe (sort-before-repartition stays on).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Plain columnar scan; filters push down."""
    _tune(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_partition_evolved(
    spark: SparkSession, layouts: list[tuple[str, list[str]]]
) -> DataFrame:
    """Read one logical table whose landing zone spans PARTITION-SPEC
    EVOLUTION (Iceberg `ALTER TABLE ... ADD PARTITION FIELD`): each
    entry is ``(path, partition_cols)`` — the hive layout that slice of
    history was written under. The union is by NAME (hive puts
    partition columns last, so positional union would mis-zip), and
    the sets of data columns must agree across specs — validated
    loudly, because a silent ``allowMissingColumns`` union would
    NULL-backfill a column that one spec actually stores.

    Pruning is per-layout and automatic: Catalyst pushes the caller's
    filters through the union into each scan, so a predicate on a
    column that is a PARTITION field in one spec prunes directories
    there while the same predicate data-filters the other spec's scan
    (footer stats still apply). Nothing else is needed — the reader's
    job is schema alignment + the loud mismatch guard.

    Scale: spec evolution is how a 100 TB table migrates partitioning
    without rewriting history; the query cost is each layout's pruned
    scan, and the cutover boundary adds zero duplicate/dropped rows as
    long as the writer split history disjointly (the gated query's
    oracle certifies exactly that).
    """
    return union_layouts(
        spark,
        [spark.read.parquet(path) for path, _cols in layouts],
        [path for path, _c in layouts],
    )


def union_layouts(
    spark: SparkSession, dfs: list[DataFrame], labels: list
) -> DataFrame:
    """Union per-layout frames of one logical table by NAME, after
    :func:`assert_one_logical_schema` — the shared tail of
    :func:`read_partition_evolved` and the versioned writers' evolved
    reads (which read each layout with its recorded schema)."""
    _tune(spark)
    assert_one_logical_schema(dfs, labels)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def assert_one_logical_schema(dfs: list[DataFrame], labels: list) -> None:
    """Shared union-by-name guard for multi-layout reads
    (:func:`read_partition_evolved` and
    ``writers.read_table_skipping``'s evolved union — code-review r13:
    the pruned read initially bypassed it): same column NAMES across
    frames, and same per-column TYPES (ADVICE r12 — a column that
    becomes a PARTITION field in the evolved spec gets its type
    re-INFERRED from directory values, e.g. an int-looking key reads
    back as int while the old layout stores string, and unionByName
    would silently coerce or fail opaquely)."""
    cols0 = set(dfs[0].columns)
    types0 = {f.name: f.dataType for f in dfs[0].schema.fields}
    for label, df in zip(labels[1:], dfs[1:]):
        if set(df.columns) != cols0:
            raise ValueError(
                f"partition-spec evolution requires one logical schema: "
                f"{label!r} has {sorted(set(df.columns) ^ cols0)} "
                "mismatched vs the first layout"
            )
        drift = {
            f.name: (types0[f.name], f.dataType)
            for f in df.schema.fields
            if f.dataType != types0[f.name]
        }
        if drift:
            raise ValueError(
                "partition-spec evolution requires one logical schema: "
                f"{label!r} has type drift vs the first layout: "
                + ", ".join(
                    f"{c}: {a.simpleString()} -> {b.simpleString()}"
                    for c, (a, b) in sorted(drift.items())
                )
                + " (partition-value inference? pin the type with a "
                "schema or cast at write)"
            )
