"""Scale helpers: the Spark 4 Python DataSource."""

from __future__ import annotations

import json

from pyspark.sql import functions as F


def test_fx_rest_datasource_fixture_dir(spark, tmp_path):
    from etl_end_to_end_airflow_bigquery_spark.sources.rest_datasource import (
        FxRestDataSource,
    )

    fixtures = tmp_path / "payloads"
    fixtures.mkdir()
    (fixtures / "a.json").write_text(
        json.dumps({"amount": 1.0, "base": "EUR", "date": "2026-01-05",
                    "rates": {"USD": 1.1664, "GBP": 0.8421}})
    )
    (fixtures / "b.json").write_text(
        json.dumps({"amount": 1.0, "base": "EUR", "date": "2026-01-06",
                    "rates": {"USD": 1.17}})
    )
    spark.dataSource.register(FxRestDataSource)
    df = (
        spark.read.format("fx_rest")
        .option("fixture_dir", str(fixtures))
        .load()
    )
    rows = {(r.quote_date, r.to_cur): r.rate for r in df.collect()}
    assert rows[("2026-01-05", "USD")] == 1.1664
    assert rows[("2026-01-06", "USD")] == 1.17
    assert len(rows) == 3
    # composes with normal DataFrame ops
    assert df.filter(F.col("to_cur") == "USD").count() == 2
