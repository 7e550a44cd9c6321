"""Event-stream source: parquet tick table with a normalized timestamp.

The driver's ``events.parquet`` stores ``ts`` as parquet
``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, which Spark reads natively
as ``timestamp_ntz`` (the session pins
``spark.sql.parquet.inferTimestampNTZ.enabled=true``). Earlier driver
builds wrote ``TIMESTAMP(NANOS)``, which Spark's vectorized reader
rejects outright ([PARQUET_TYPE_ILLEGAL]); for those files the supported
path is the ``nanosAsLong`` legacy conf (column surfaces as raw long
nanoseconds) followed by an integer ``div 1000`` truncation — exactly
how DuckDB/pyarrow truncate ns→µs, so oracle comparisons line up to the
microsecond. ``load_events`` sniffs the parquet footer with
pyarrow (no exception-driven guessing: a missing file, permission
error, or corrupt footer propagates as itself) and normalizes both
encodings to microsecond ``timestamp_ntz``. The legacy conf is set
only when the footer genuinely says nanos — and must then stay set for
the session, because Spark resolves it lazily at scan time and the
returned frame is lazy; it is harmless for µs files (the conf only
changes how NANOS columns surface). On current data the session conf
is never touched (no cross-query side effects). The scan goes through
``io.read_parquet``, so only the first load of a file infers its schema
(one Spark job); later loads start none.

Reference analog: the raw tick table scan (S2,
``dags/ FXRate_Reporting_Pipeline.py:141-144``) — `events` is the
driver's stand-in for the `exchange_rate` tick stream (FIXTURES.md §C).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_parquet

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _ts_is_nanos(path: str) -> bool:
    """True iff the parquet footer types ``ts`` as nanosecond timestamp.

    Footer sniff via pyarrow: unrelated failures (missing file, bad
    permissions, corrupt footer) raise as themselves instead of being
    misread as "legacy encoding"."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = parts[0]
    field = pq.read_schema(path).field("ts")
    return getattr(field.type, "unit", None) == "ns"


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as microsecond-precision timestamp_ntz.

    Columns: event_id long, ts timestamp_ntz, user_id long,
    event_type string, value double, props string (JSON).
    """
    path = os.path.join(sf_dir, "events.parquet")
    if _ts_is_nanos(path):
        # Legacy nanos file: Spark's vectorized reader rejects it
        # ([PARQUET_TYPE_ILLEGAL]) unless nanosAsLong surfaces the column
        # as raw long ns. The conf is resolved lazily at scan time, so it
        # must remain set while the returned frame is alive; it is inert
        # for µs files. Set before planning: the conf is part of
        # read_parquet's inferred-schema cache key.
        spark.conf.set(_NANOS_CONF, "true")
    raw = read_parquet(spark, path)
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # Raw long nanoseconds (legacy nanos parquet via nanosAsLong).
        return raw.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    # Native timestamp (µs) — normalize tz-typed reads to NTZ so plans
    # hash identically regardless of reader conf.
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
