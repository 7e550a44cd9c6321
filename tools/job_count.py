"""Spark JOB COUNT per query — the machine-noise-immune evidence channel
for driver-loop optimizations (VERDICT r15 item 9).

Wall-clock A/Bs on loop-shaped queries (connected components, BFS,
pagerank, IVM maintenance) measure scheduler latency under whatever load
the host carries; the number of Spark jobs a query launches is a
deterministic property of the code. This tool runs each named query
twice into the noop sink and reports every job that started while the
query ran — the per-query job count — so loop-fold claims are
reproducible rather than quoted. The count is taken over the listener's
job list, not a job group: a streaming query's micro-batches run on the
stream thread under the stream's own group, and a count by the caller's
group would miss all of them. So the tool runs one query at a time and
starts nothing else meanwhile. The cold run pays the process's
one-time costs (a table's first schema inference); the warm run is what
every later call of the query costs.

Usage: python tools/job_count.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    rest = sys.argv[1:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest

    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    spark = get_spark("job_count")
    sc = spark.sparkContext

    def job_ids() -> set[int]:
        # the listener bus is asynchronous: drain it so the last job is in
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    # Warmup so JVM/codegen startup jobs don't land in the first query.
    QUERIES["top_orders_by_date"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    print(" cold  warm  query")
    for name in names:
        counts = []
        for _run in ("cold", "warm"):
            before = job_ids()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            counts.append(len(job_ids() - before))
            sweep_tmpdirs()
        print(f"{counts[0]:5d} {counts[1]:5d}  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
