"""SparkSession factory with scale-minded defaults.

The reference pins everything to UTC (``pd.Timestamp.now(tz='UTC')``,
``dags/ FXRate_Reporting_Pipeline.py:52``) and relies on BigQuery's columnar
engine; here Spark is the engine, so the session carries the configuration
that matters at scale: AQE (runtime re-planning + skew-join handling),
Arrow for any pandas interchange, and a shuffle-partition count sized to
the local core count instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 48 * 1024


def local_cpus() -> str:
    """Cores for ``local[n]`` and the shuffle-partition default:
    ``$SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on. ``bench.py`` names its per-core-count record after the same
    value, so the record always matches the session it measured."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory
    capped at 48g: a heap sized past the host lets the JVM grow until
    the kernel kills it instead of collecting garbage."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(_MAX_DRIVER_MEM_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "etl_end_to_end_airflow_bigquery_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with UTC + Arrow + AQE defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe (session-scoped SQL conf only,
    plus local[] fallbacks used when no master is configured).
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Read parquet TIMESTAMP (isAdjustedToUTC=false) as NTZ so values
        # match the DuckDB oracle byte-for-byte regardless of host TZ.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Pinned (Spark 4 default, but relied upon): int64 accumulator
        # overflow in decimal_sum must raise, never wrap silently.
        .config("spark.sql.ansi.enabled", "true")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory", _default_driver_mem()
        )
    elif master is not None:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
