"""``io.read_parquet``: single-path parquet reads planned with a known
schema, so building the DataFrame starts no Spark job. Job counts are
read once the listener bus has delivered every job start."""

from __future__ import annotations

import datetime
import decimal
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etl_end_to_end_airflow_bigquery_spark.io import (
    _listing,
    footer_schema,
    iter_data_files,
    load_table,
    read_parquet,
)
from etl_end_to_end_airflow_bigquery_spark.sources.events import load_events

SF_SMALL = "/root/testdata/sf0.001"


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group: (result, job count)."""
    sc = spark.sparkContext
    group = f"read_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "read_parquet job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_arrow(path, columns):
    pq.write_table(pa.table(columns), str(path))


def test_second_load_table_starts_no_job(spark, tmp_path):
    _write_arrow(tmp_path / "t.parquet", {"k": [1, 2, 3], "s": ["a", "b", "c"]})
    first, n1 = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, n2 = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert (n1, n2) == (1, 0)
    inferred = spark.read.parquet(str(tmp_path / "t.parquet")).schema
    assert first.schema == second.schema == inferred
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_reads_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_arrow(path, {"k": [1, 2]})
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    _write_arrow(path, {"k": [1, 2], "extra": [0.5, 1.5]})
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n == 1
    assert df.columns == ["k", "extra"]
    assert df.schema == spark.read.parquet(str(path)).schema


def test_binary_as_string_flip_infers_again(spark, tmp_path):
    _write_arrow(tmp_path / "t.parquet", {"b": pa.array([b"x", b"y"], pa.binary())})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    try:
        spark.conf.set(key, "true")
        df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
        assert n == 1
        assert df.dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, before)
    df, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert (n, df.dtypes) == (0, [("b", "binary")])


def test_spark_written_dir_reads_through_its_footer(spark, tmp_path):
    """Also the IVM state read-backs' case: a frame written, then read
    back at once, plans from the footer with no job."""
    frame = spark.range(20).selectExpr(
        "id AS k",
        "CAST(id * 1.25 AS DECIMAL(12, 2)) AS amount",
        "TIMESTAMP '2026-01-05 10:00:00' + make_interval(0, 0, 0, 0, 0, id) AS ts",
        "array(CAST(id AS FLOAT), 0.5F) AS vec",
        "map('n', id) AS props",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS st",
        "CAST(id % 3 AS INT) AS cell",
    )
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    frame.write.parquet(flat)
    frame.write.partitionBy("cell").parquet(part)
    for path in (flat, part):
        assert footer_schema(path) is not None
        df, n = _jobs(spark, lambda: read_parquet(spark, path))
        assert n == 0
        inferred = spark.read.parquet(path)
        assert df.schema == inferred.schema
        assert sorted(df.collect()) == sorted(inferred.collect())


def test_arrow_written_dir_falls_back_to_inference(spark, tmp_path):
    d = tmp_path / "arrow_dir"
    d.mkdir()
    _write_arrow(d / "part-0.parquet", {
        "k": [1, 2],
        "amount": pa.array([decimal.Decimal("1.50"), None], pa.decimal128(9, 2)),
        "day": pa.array([datetime.date(2026, 1, 5)] * 2),
    })
    assert footer_schema(str(d)) is None
    first, n1 = _jobs(spark, lambda: read_parquet(spark, str(d)))
    second, n2 = _jobs(spark, lambda: read_parquet(spark, str(d)))
    assert (n1, n2) == (1, 0)
    assert second.schema == first.schema == spark.read.parquet(str(d)).schema


def test_data_files_skip_what_spark_hides(tmp_path):
    for rel in (
        "part-1.parquet",
        "k=1/part-2.parquet",
        "_k=2/part-3.parquet",
        "_SUCCESS",
        ".part-1.parquet.crc",
        "_change_data/part-4.parquet",
        "_manifest/shard.parquet",
        ".hidden/part-5.parquet",
        "notes.txt",
    ):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"")
    rels = [rel for rel, _p in iter_data_files(str(tmp_path))]
    assert rels == [
        "part-1.parquet",
        os.path.join("_k=2", "part-3.parquet"),
        os.path.join("k=1", "part-2.parquet"),
    ]
    one = str(tmp_path / "part-1.parquet")
    assert list(iter_data_files(one)) == [("part-1.parquet", one)]


def test_listing_sees_a_replace_that_keeps_size_and_mtime(tmp_path):
    path = tmp_path / "t.parquet"
    _write_arrow(path, {"k": [1, 2]})
    before = _listing(str(path))
    st = os.stat(path)
    _write_arrow(tmp_path / "u.parquet", {"j": [3, 4]})
    os.replace(tmp_path / "u.parquet", path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    after = _listing(str(path))
    assert after != before
    assert after[0][2] == before[0][2]  # same mtime: the inode tells


def test_missing_path_is_reported_by_spark(spark, tmp_path):
    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent.parquet"))


def test_ivm_join_revenue_job_count_after_warm_up(spark):
    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    def run():
        QUERIES["ivm_join_revenue"](spark, SF_SMALL).write.format(
            "noop"
        ).mode("overwrite").save()

    run()  # warm-up: the tables' schemas are inferred once per process
    _, n = _jobs(spark, run)
    sweep_tmpdirs()
    assert n == 9


def test_second_load_events_starts_no_job(spark, tmp_path):
    shutil.copy(f"{SF_SMALL}/events.parquet", tmp_path / "events.parquet")
    first, n1 = _jobs(spark, lambda: load_events(spark, str(tmp_path)))
    second, n2 = _jobs(spark, lambda: load_events(spark, str(tmp_path)))
    assert (n1, n2) == (1, 0)
    assert first.schema == second.schema
    assert dict(second.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(second.collect()) == sorted(first.collect())


def test_legacy_nanos_events_infer_once_under_nanos_as_long(spark, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    _write_arrow(
        tmp_path / "events.parquet",
        {"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))},
    )
    before = spark.conf.get(conf, None)
    try:
        first, n1 = _jobs(spark, lambda: load_events(spark, str(tmp_path)))
        second, n2 = _jobs(spark, lambda: load_events(spark, str(tmp_path)))
        assert (n1, n2) == (1, 0)
        assert dict(second.dtypes)["ts"] == "timestamp_ntz"
        got = [r["ts"] for r in second.orderBy("event_id").collect()]
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    epoch = datetime.datetime(1970, 1, 1)
    assert got == [epoch + datetime.timedelta(microseconds=t // 1000) for t in ns]
