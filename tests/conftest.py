from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_end_to_end_airflow_bigquery_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture()
def fx_payload():
    """Frankfurter-style payload (dags/test_api.ipynb shape)."""
    return {
        "amount": 1.0,
        "base": "EUR",
        "date": "2026-01-05",
        "rates": {"USD": 1.1664, "GBP": 0.8421, "JPY": 170.34},
    }


def stream_fold_args(spark, name: str, sf_dir: str = SF_SMALL):
    """(feed, init, step) exactly as the registry query ``name`` hands
    them to ``incremental.versioned_stream_fold``: the query runs with
    the fold replaced by a recorder, so no stream starts and the test
    holds the production step itself."""
    from etl_end_to_end_airflow_bigquery_spark.plans import queries_stream as qs

    got = []

    def record(_spark, _name, feed, init, step):
        got.append((feed, init, step))
        return init

    real = qs.versioned_stream_fold
    qs.versioned_stream_fold = record
    try:
        qs.STREAM_QUERIES[name](spark, sf_dir)
    finally:
        qs.versioned_stream_fold = real
    (args,) = got
    return args


def fold_batches(base: str, name: str, init, step, batches) -> dict:
    """Write ``init`` under ``base`` and fold ``batches`` (ids 0, 1, …)
    through the stream's own per-batch body; returns the state dirs."""
    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        fold_stream_batch,
        write_initial_states,
    )

    dirs = write_initial_states(base, init)
    for i, batch in enumerate(batches):
        fold_stream_batch(name, dirs, step, batch, i)
    return dirs
