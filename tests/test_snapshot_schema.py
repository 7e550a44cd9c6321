"""Schema-carrying snapshots: the commit-time sidecar records the Spark
row schema of an unpartitioned snapshot, and ``read_table`` reads with
it instead of running Spark's parquet schema-inference job. Every read
must equal the inferred read, in schema and rows; every case the
sidecar cannot vouch for falls back to inference."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
    _commit_version,
    _link_tree,
    _load_snapshot_meta,
    _next_version_dir,
    _resolve_data_dir,
    compact_parquet,
    delete_rows,
    evolve_partition_spec,
    merge_upsert,
    merge_upsert_df,
    read_table,
)

_SCHEMA = (
    "k bigint, name string, v double, amt decimal(18,4), ts timestamp, "
    "day date, tags array<string>, attrs map<string,double>, "
    "pt struct<x: int, y: string>"
)


def _rows(keys, scale=1.0):
    return [
        (
            k,
            None if k % 5 == 0 else f"n{k}",
            k * scale,
            decimal.Decimal(k) / 7 if k % 3 else None,
            dt.datetime(2026, 1, 1 + k % 28, k % 24),
            dt.date(2026, 2, 1 + k % 28),
            [f"t{k}", None] if k % 2 else [],
            {"a": float(k)} if k % 4 else None,
            (k, f"y{k}") if k % 6 else None,
        )
        for k in keys
    ]


def _frame(spark, keys, scale=1.0):
    return spark.createDataFrame(_rows(keys, scale), _SCHEMA)


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _read_vdir(path, version):
    if version is None:
        return _resolve_data_dir(path)
    (name,) = [d for d in os.listdir(path) if d.startswith(f"v_{version:06d}_")]
    return os.path.join(path, name)


def _assert_recorded_read(spark, path, version=None):
    """The snapshot carries a schema, reading it starts no Spark job,
    and the result equals Spark's own inferred read of the same dir."""
    vdir = _read_vdir(path, version)
    assert (_load_snapshot_meta(vdir) or {}).get("spark_schema")
    before = _jobs(spark)
    got = read_table(spark, path, version=version)
    assert _jobs(spark) == before  # no schema-inference job
    inferred = spark.read.parquet(vdir)
    assert got.schema == inferred.schema
    assert _sorted(got) == _sorted(inferred)
    return got


def _assert_inferred_read(spark, path):
    vdir = _resolve_data_dir(path)
    assert "spark_schema" not in (_load_snapshot_meta(vdir) or {})
    got = read_table(spark, path)
    inferred = spark.read.parquet(vdir)
    assert got.schema == inferred.schema
    assert _sorted(got) == _sorted(inferred)
    return got


def test_first_write_and_merge_read_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _frame(spark, range(20)), keys=["k"])
    assert _assert_recorded_read(spark, path).count() == 20
    merge_upsert(spark, path, _frame(spark, range(15, 30), 2.0), keys=["k"])
    got = _assert_recorded_read(spark, path)
    assert got.count() == 30
    assert {r.k: r.v for r in got.collect()}[17] == 34.0


def test_evolved_schema_merge_reads_recorded_schema(spark, tmp_path):
    """A table widened by ``merge_upsert_df(evolve_schema=True)`` records
    the widened schema, and later merges of narrower batches keep it."""
    base = str(tmp_path / "base")
    merge_upsert(spark, base, _frame(spark, range(10)), keys=["k"])
    batch = _frame(spark, range(5, 15)).withColumn(
        "score", F.col("v") * F.lit(0.5)
    )
    widened = merge_upsert_df(
        read_table(spark, base), batch, ["k"], evolve_schema=True
    )
    path = str(tmp_path / "t")
    merge_upsert(spark, path, widened, keys=["k"])
    got = _assert_recorded_read(spark, path)
    assert got.columns[-1] == "score"
    merge_upsert(spark, path, _frame(spark, range(12, 18)), keys=["k"])
    got = _assert_recorded_read(spark, path)
    assert got.columns[-1] == "score" and got.count() == 18


def test_cdf_merge_reads_recorded_schema(spark, tmp_path):
    """The change feed lives under ``_change_data`` inside the snapshot:
    it neither enters the recorded schema nor the data read."""
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _frame(spark, range(8)), keys=["k"], emit_cdf=True)
    merge_upsert(
        spark, path, _frame(spark, range(4, 12), 3.0), keys=["k"], emit_cdf=True
    )
    got = _assert_recorded_read(spark, path)
    assert got.columns == _frame(spark, []).columns and got.count() == 12


def test_compact_and_delete_read_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    merge_upsert(
        spark, path, _frame(spark, range(40)).repartition(4), keys=["k"]
    )
    assert compact_parquet(spark, path, target_file_bytes=1 << 30) == 1
    assert _assert_recorded_read(spark, path).count() == 40
    assert delete_rows(spark, path, "k % 4 = 1") == 10
    assert _assert_recorded_read(spark, path).count() == 30


def test_legacy_plain_dir_migration_reads_recorded_schema(spark, tmp_path):
    path = str(tmp_path / "legacy")
    _frame(spark, range(6)).write.mode("overwrite").parquet(path)
    merge_upsert(spark, path, _frame(spark, [2, 9], 5.0), keys=["k"])
    assert _assert_recorded_read(spark, path).count() == 7


def test_time_travel_reads_each_snapshots_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    narrow = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    merge_upsert(spark, path, narrow, keys=["k"], keep_versions=5)
    merge_upsert(
        spark, path, spark.createDataFrame([(2, "B")], "k bigint, v string"),
        keys=["k"], keep_versions=5,
    )
    v1 = _assert_recorded_read(spark, path, version=1)
    v2 = _assert_recorded_read(spark, path, version=2)
    assert sorted(tuple(r) for r in v1.collect()) == [(1, "a"), (2, "b")]
    assert sorted(tuple(r) for r in v2.collect()) == [(1, "a"), (2, "B")]


def test_partitioned_and_spec_evolved_read_recorded_types(spark, tmp_path):
    """Hive partition columns come from directory names, not footers:
    partitioned and spec-evolved snapshots record no row schema, but
    record each partition column's written type; every layout is read
    with its footer schema plus those types, so the read starts no
    Spark job and equals the inferred read."""
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(1, "d1", "a", 1.0), (2, "d2", "b", 2.0)],
        "k int, day string, typ string, v double",
    )
    merge_upsert(spark, path, df, keys=["k", "day", "typ"],
                 partition_col="day")
    meta = _load_snapshot_meta(_resolve_data_dir(path))
    assert "spark_schema" not in meta
    assert meta["partition_types"] == {"day": "string"}
    before = _jobs(spark)
    got = read_table(spark, path)
    assert _jobs(spark) == before
    assert got.columns[-1] == "day"
    inferred = spark.read.parquet(_resolve_data_dir(path))
    assert got.schema == inferred.schema and _sorted(got) == _sorted(inferred)

    evolve_partition_spec(spark, path, ["day", "typ"])
    merge_upsert(
        spark, path,
        spark.createDataFrame([(3, "d3", "c", 3.0)], df.schema),
        keys=["k", "day", "typ"],
    )
    meta = _load_snapshot_meta(_resolve_data_dir(path))
    assert meta["layouts"] and "spark_schema" not in meta
    assert meta["partition_types"] == {"day": "string", "typ": "string"}
    before = _jobs(spark)
    got = read_table(spark, path)
    assert _jobs(spark) == before
    assert sorted(got.columns) == sorted(df.columns)
    assert got.count() == 3


def test_pre_sidecar_snapshot_falls_back_and_stays_unrecorded(spark, tmp_path):
    """A snapshot without a sidecar reads by inference; a maintenance
    commit on it cannot know the partition spec, so records nothing."""
    path = str(tmp_path / "t")
    merge_upsert(spark, path, _frame(spark, range(10)), keys=["k"])
    os.remove(os.path.join(_resolve_data_dir(path), "_snapshot_meta.json"))
    assert _assert_inferred_read(spark, path).count() == 10
    compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert _assert_inferred_read(spark, path).count() == 10


def _pyarrow_snapshot(path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    vdir = _next_version_dir(path)
    os.makedirs(vdir)
    pq.write_table(
        pa.table({"k": list(range(n)), "v": [float(i) for i in range(n)]}),
        os.path.join(vdir, "part-0.parquet"),
    )
    return vdir


def test_pyarrow_written_snapshot_falls_back(spark, tmp_path):
    path = str(tmp_path / "t")
    vdir = _pyarrow_snapshot(path, 5)
    _commit_version(path, vdir, keep_versions=2, partition_spec=[])
    assert _assert_inferred_read(spark, path).count() == 5


def test_disagreeing_file_schemas_record_nothing(spark, tmp_path):
    """Two Spark-written files whose schemas differ (one column's type)
    leave the snapshot unrecorded; so does a Spark file beside a
    pyarrow one."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    vdir = _next_version_dir(path)
    spark.createDataFrame([(1, 1.0)], "k bigint, v double").coalesce(1).write.parquet(
        vdir
    )
    other = str(tmp_path / "other")
    spark.createDataFrame([(2, 2.0)], "k bigint, v float").coalesce(1).write.parquet(
        other
    )
    for f in os.listdir(other):
        if f.endswith(".parquet"):
            os.link(os.path.join(other, f), os.path.join(vdir, "b-" + f))
    _commit_version(path, vdir, keep_versions=2, partition_spec=[])
    assert "spark_schema" not in _load_snapshot_meta(vdir)

    mixed = str(tmp_path / "mixed")
    pvdir = _pyarrow_snapshot(mixed, 3)
    for f in os.listdir(other):
        if f.endswith(".parquet"):
            os.link(os.path.join(other, f), os.path.join(pvdir, "b-" + f))
    _commit_version(mixed, pvdir, keep_versions=2, partition_spec=[])
    assert "spark_schema" not in _load_snapshot_meta(pvdir)


@pytest.mark.parametrize("spark_written", [True, False])
def test_hardlinked_files_inherit_previous_schema(spark, tmp_path, spark_written):
    """Files carried by hardlink are not re-read: they inherit the
    previous snapshot's recorded schema, and nothing when it had none."""
    path = str(tmp_path / "t")
    if spark_written:
        merge_upsert(spark, path, _frame(spark, range(5)), keys=["k"])
        prev = _resolve_data_dir(path)
    else:
        prev = _pyarrow_snapshot(path, 5)
        _commit_version(path, prev, keep_versions=2, partition_spec=[])
    vdir = _next_version_dir(path)
    _link_tree(prev, vdir)
    _commit_version(path, vdir, keep_versions=2)
    prev_schema = (_load_snapshot_meta(prev) or {}).get("spark_schema")
    assert (prev_schema is not None) == spark_written
    assert _load_snapshot_meta(vdir).get("spark_schema") == prev_schema
    if spark_written:
        _assert_recorded_read(spark, path)
    else:
        _assert_inferred_read(spark, path)
