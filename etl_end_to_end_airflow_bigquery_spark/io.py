"""Parquet table loading for the driver's synthetic testdata.

Reference analog: the BigQuery table scan (`client.query(sql)`,
``dags/ FXRate_Reporting_Pipeline.py:141-144``) becomes
``spark.read.parquet`` — Catalyst handles predicate pushdown and column
pruning, so callers should express filters/projections on the returned
DataFrame rather than pre-materializing.

Like the BigQuery scan, a table scan starts no Spark job once its schema
is known: :func:`read_parquet` plans every single-path read with an
explicit schema — Spark's row schema from the first data file's footer,
or Spark's own inferred schema cached per process — so only the first
read of a non-Spark-written file pays the one-task schema-inference
job.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import local_cpus

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Footer key under which Spark's parquet writer stores the row schema as
# JSON; Spark's own schema inference reads the same key.
SPARK_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"
# The session confs that change the schema Spark infers for a parquet
# path; mergeSchema first, because it also rules out the footer source.
_INFER_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# Inferred schemas by (real path, listing, confs); oldest evicted first.
_INFERRED: dict[tuple, StructType] = {}
_INFERRED_MAX = 256
_INFERRED_LOCK = threading.Lock()


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

    The spread holds only for projections. Catalyst pushes every
    deterministic filter through the round-robin exchange, the ones it
    infers included (``isnotnull`` from a join key, ``size(..) > 0``
    from an explode), with each alias replaced by its expression. A
    filter on a fold's output therefore runs the fold on the one scan
    task, and the projection above runs it again. Callers keep such
    columns non-nullable and explode the fold itself, not its column;
    ``tools/plan_audit.py`` flags a plan that does not as
    SPREAD_BYPASSED.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Plain columnar scan; filters push down."""
    _tune(spark)
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for one path, planned with a known
    schema so building the DataFrame starts no Spark job. The schema is
    Spark's row schema from the footer of the first data file
    (:func:`footer_schema`), which covers every Spark-written path,
    write-then-read-back sites included; else Spark's own inferred
    schema, cached per process under the real path, the
    :func:`_listing` of its data files and the :data:`_INFER_CONFS`
    values — so a rewritten table or a flipped conf infers again. Only
    inferred schemas are cached. A path ``os`` cannot stat (missing, or
    a non-local URI) goes to Spark as is, which reports it."""
    confs = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    try:
        schema = footer_schema(path) if confs[0] != "true" else None
        if schema is None:
            key = (os.path.realpath(path), _listing(path), confs)
    except OSError:
        return spark.read.parquet(path)
    if schema is None:
        schema = _INFERRED.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        # a copy: StructType.add mutates, and df.schema is the caller's
        inferred = StructType.fromJson(df.schema.jsonValue())
        with _INFERRED_LOCK:
            if len(_INFERRED) >= _INFERRED_MAX:
                del _INFERRED[next(iter(_INFERRED))]
            _INFERRED[key] = inferred
        return df
    return spark.read.schema(schema).parquet(path)


def footer_schema(path: str) -> StructType | None:
    """Spark's row schema (:data:`SPARK_ROW_META`) from the footer of
    the first data file :func:`iter_data_files` lists under ``path``,
    read on the driver with pyarrow; None when there is no such file or
    it was not written by Spark. Hive partition columns are not in
    footers: a read with this schema gets them from the directory
    names, as an inferred read does."""
    for _rel, fpath in iter_data_files(path):
        import pyarrow.parquet as pq

        raw = (pq.ParquetFile(fpath).metadata.metadata or {}).get(
            SPARK_ROW_META
        )
        return None if raw is None else StructType.fromJson(
            json.loads(raw.decode("utf-8"))
        )
    return None


def iter_data_files(path: str):
    """Yield (relpath, abspath) for every parquet data file Spark's file
    index reads under ``path`` (a file path yields itself). Directories
    are walked SORTED (os.walk's native order is filesystem-dependent);
    names starting with ``.``, or with ``_`` and holding no ``=``, are
    hidden, as they are to Spark: ``_SUCCESS``, the change feed
    ``_change_data``, an older commit's sharded census ``_manifest``,
    ``_temporary``, ``.crc`` files. Walk order (root files before
    subdir files) is not string order: callers that compare against a
    relpath-sorted list sort their output."""
    if os.path.isfile(path):
        yield os.path.basename(path), path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for fname in sorted(files):
            if fname.endswith(".parquet") and not _hidden(fname):
                fpath = os.path.join(root, fname)
                yield os.path.relpath(fpath, path), fpath


def _hidden(name: str) -> bool:
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _listing(path: str) -> tuple:
    """(relpath, size, mtime_ns, ctime_ns, inode) of each data file
    under ``path`` — the inferred-schema cache's view of its contents:
    a rewrite, a replace by rename or a restored mtime changes it. A
    same-size in-place rewrite within one filesystem timestamp tick
    does not; Spark-written paths never reach the cache (their footer
    is read instead). Raises OSError for a path ``os`` cannot stat."""
    os.stat(path)
    out = []
    for rel, fpath in iter_data_files(path):
        st = os.stat(fpath)
        out.append((rel, st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino))
    return tuple(out)


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
