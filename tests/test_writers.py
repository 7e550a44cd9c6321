"""Write-path semantics (J1/J2/S3): the property the reference's v2/v3
DAG variants exist to provide — running a batch twice ≡ once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
    append,
    idempotent_append,
    idempotent_append_df,
    merge_upsert,
    merge_upsert_df,
    read_table,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k int, day string, v double")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def target(spark):
    return _frame(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])


def test_merge_upsert_df_updates_and_inserts(spark, target):
    source = _frame(spark, [(2, "d1", 20.0), (4, "d2", 40.0)])
    got = _sorted(merge_upsert_df(target, source, keys=["k"]))
    assert got == [(1, "d1", 1.0), (2, "d1", 20.0), (3, "d2", 3.0), (4, "d2", 40.0)]


def test_merge_upsert_df_source_wins_even_null(spark, target):
    source = spark.createDataFrame([(2, "d1", None)], "k int, day string, v double")
    got = dict((r.k, r.v) for r in merge_upsert_df(target, source, keys=["k"]).collect())
    assert got[2] is None  # MERGE updates all columns, including to null


def test_merge_upsert_df_composite_key(spark, target):
    source = _frame(spark, [(1, "d2", 10.0)])  # same k, different day → insert
    assert len(merge_upsert_df(target, source, keys=["k", "day"]).collect()) == 4


def test_merge_upsert_df_null_key_update_and_insert(spark):
    """ADVICE r04 (medium): eqNullSafe supports NULL key values, so a
    source row with NULL in the first key must still win on match and
    carry its values on insert — presence is tracked via a sentinel,
    not key nullability."""
    target = _frame(spark, [(None, "d1", 1.0), (2, "d1", 2.0)])
    source = _frame(spark, [(None, "d1", 10.0), (None, "d9", 90.0)])
    got = {tuple(r) for r in merge_upsert_df(target, source, keys=["k", "day"]).collect()}
    assert got == {(None, "d1", 10.0), (None, "d9", 90.0), (2, "d1", 2.0)}


def test_merge_upsert_df_null_key_evolved_column_kept(spark):
    """A widened target's new column is NULL until a batch sets it — a
    NULL-keyed source row is a match, so its new-column value sticks."""
    target = _frame(spark, [(None, "d1", 1.0)]).withColumn(
        "note", F.lit(None).cast("string")
    )
    source = spark.createDataFrame(
        [(None, "d1", 10.0, "fresh")], "k int, day string, v double, note string"
    )
    rows = merge_upsert_df(target, source, keys=["k", "day"]).collect()
    assert [(r.k, r.day, r.v, r.note) for r in rows] == [(None, "d1", 10.0, "fresh")]


def test_idempotent_append_df_skips_existing_keys(spark, target):
    batch = _frame(spark, [(3, "dX", 30.0), (5, "d3", 5.0), (5, "d3", 5.0)])
    got = _sorted(idempotent_append_df(target, batch, keys=["k"]))
    assert (5, "d3", 5.0) in got and (3, "dX", 30.0) not in got
    assert len(got) == 4  # in-batch dup of k=5 collapsed


def test_merge_upsert_file_idempotent(spark, tmp_path, target):
    path = str(tmp_path / "t")
    merge_upsert(spark, path, target, keys=["k"])
    batch = _frame(spark, [(2, "d1", 99.0), (9, "d9", 9.0)])
    merge_upsert(spark, path, batch, keys=["k"])
    once = _sorted(read_table(spark, path))
    merge_upsert(spark, path, batch, keys=["k"])  # re-run the same batch
    assert _sorted(read_table(spark, path)) == once
    assert (2, "d1", 99.0) in once and (9, "d9", 9.0) in once and len(once) == 4


def test_merge_versioned_layout_pointer_and_retention(spark, tmp_path, target):
    """Non-partitioned merge uses the versioned-commit layout: _CURRENT
    points at the newest v_* snapshot, retention keeps keep_versions."""
    import os

    path = str(tmp_path / "vt")
    merge_upsert(spark, path, target, keys=["k"])
    for i in range(3):
        merge_upsert(
            spark, path, _frame(spark, [(50 + i, "dv", float(i))]), keys=["k"]
        )
    versions = sorted(d for d in os.listdir(path) if d.startswith("v_"))
    assert len(versions) == 2  # default keep_versions=2 of the 4 commits
    ptr = open(os.path.join(path, "_CURRENT")).read().strip()
    assert ptr == versions[-1]
    assert read_table(spark, path).count() == 6  # 3 base + 3 merged keys


def test_merge_versioned_migrates_plain_directory(spark, tmp_path, target):
    """Merging into a pre-versioning plain parquet dir keeps its rows
    (one-time migration), then commits versioned snapshots."""
    import os

    path = str(tmp_path / "legacy")
    target.write.mode("overwrite").parquet(path)  # plain layout
    merge_upsert(spark, path, _frame(spark, [(2, "d1", 99.0)]), keys=["k"])
    got = _sorted(read_table(spark, path))
    assert (1, "d1", 1.0) in got and (2, "d1", 99.0) in got and len(got) == 3
    assert os.path.isfile(os.path.join(path, "_CURRENT"))
    # loose legacy files retired: the dir holds only pointer + versions
    loose = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert loose == []


def test_merge_versioned_crash_recovery_orphan_swept(spark, tmp_path, target):
    """A crash after writing a v_* snapshot but before committing leaves
    an orphan dir: readers keep the previous snapshot, the next merge
    commits normally and sweeps the orphan — and the orphan must NOT
    occupy a retention slot (ADVICE r03: with keep_versions=2, the
    genuine previous committed snapshot survives the commit that runs
    right after the crash, so in-flight readers keep an intact
    snapshot)."""
    import os

    path = str(tmp_path / "crash")
    merge_upsert(spark, path, target, keys=["k"])
    ptr_before = open(os.path.join(path, "_CURRENT")).read().strip()
    # simulate the crash: a written-but-uncommitted snapshot appears,
    # with the highest sequence number
    orphan = os.path.join(path, "v_999999_deadbeef")
    target.write.mode("overwrite").parquet(orphan)
    assert read_table(spark, path).count() == 3  # readers unaffected
    assert open(os.path.join(path, "_CURRENT")).read().strip() == ptr_before
    merge_upsert(spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"])
    got = _sorted(read_table(spark, path))
    assert len(got) == 4 and (9, "d9", 9.0) in got
    # orphan swept (it was never committed, so it cannot shadow history)
    assert not os.path.isdir(orphan)
    # the previous COMMITTED snapshot is still retained for slow readers
    assert os.path.isdir(os.path.join(path, ptr_before))


def test_commit_sweeps_crash_leftovers(spark, tmp_path, target):
    """A writer killed mid-operation can leave a ``_stage_*`` dir (the
    staged base of a plain-directory merge) and a ``._CURRENT.*.tmp``
    pointer temporary at the table root; the next commit, which holds
    the write lock, sweeps both and keeps the live pointer."""
    import os

    path = str(tmp_path / "leftovers")
    merge_upsert(spark, path, target, keys=["k"])
    stage = os.path.join(path, "_stage_x")
    os.makedirs(os.path.join(stage, "day=d1"))
    open(os.path.join(stage, "day=d1", "part-0.parquet"), "wb").close()
    tmp_ptr = os.path.join(path, "._CURRENT.deadbeef.tmp")
    with open(tmp_ptr, "w") as f:
        f.write("v_999999_deadbeef")
    merge_upsert(spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"])
    assert not os.path.exists(stage)
    assert not os.path.exists(tmp_ptr)
    assert os.path.isfile(os.path.join(path, "_CURRENT"))
    assert len(_sorted(read_table(spark, path))) == 4

def test_commit_fsyncs_table_dir_after_pointer_flip(
    spark, tmp_path, target, monkeypatch
):
    """The ``_CURRENT`` flip is a rename inside the table dir, so it is
    durable only once that dir is fsynced: the commit must sync a
    directory fd for the table dir, after the pointer names the new
    snapshot."""
    import os
    import stat

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _current_version_name,
    )

    path = str(tmp_path / "durable")
    merge_upsert(spark, path, target, keys=["k"])
    before = _current_version_name(path)
    table_ino = os.stat(path).st_ino
    real_fsync = os.fsync
    synced_dirs = []

    def recording_fsync(fd):
        st = os.fstat(fd)
        if stat.S_ISDIR(st.st_mode):
            synced_dirs.append((st.st_ino, _current_version_name(path)))
        return real_fsync(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    merge_upsert(spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"])
    after = _current_version_name(path)
    assert after != before
    assert (table_ino, after) in synced_dirs, synced_dirs


def test_empty_partitioned_first_write_reads_as_zero_rows(spark, tmp_path):
    """A partitioned first write of an empty batch commits a snapshot
    with no data file; it reads back as zero rows with the batch's
    columns and types (starting no Spark job), and the next merge of
    rows writes only hive leaves — no root-level zero-row file."""
    import os

    path = str(tmp_path / "empty_part")
    merge_upsert(spark, path, _frame(spark, []), keys=["k", "day"],
                 partition_col="day")
    got = {}
    assert _jobs_in_group(
        spark, lambda: got.setdefault("df", read_table(spark, path))
    ) == 0
    df = got["df"]
    assert df.schema.simpleString() == "struct<k:int,v:double,day:string>"
    assert df.count() == 0
    # a second empty merge carries the recorded schema forward
    merge_upsert(spark, path, _frame(spark, []), keys=["k", "day"])
    again = read_table(spark, path)
    assert again.schema.simpleString() == "struct<k:int,v:double,day:string>"
    assert again.count() == 0

    rows = [(1, "d1", 1.0), (2, "d2", 2.0)]
    merge_upsert(spark, path, _frame(spark, rows), keys=["k", "day"])
    back = read_table(spark, path)
    assert back.schema.simpleString() == "struct<k:int,v:double,day:string>"
    assert _sorted(back.select("k", "day", "v")) == rows
    cur = os.path.join(path, open(os.path.join(path, "_CURRENT")).read().strip())
    assert not [f for f in os.listdir(cur) if f.endswith(".parquet")]
    assert sorted(d for d in os.listdir(cur) if "=" in d) == ["day=d1", "day=d2"]


def test_read_table_time_travel(spark, tmp_path, target):
    """read_table(version=N) reads a retained snapshot; swept snapshots
    raise listing what is still available."""
    path = str(tmp_path / "tt")
    merge_upsert(spark, path, target, keys=["k"], keep_versions=2)      # v1: 3 rows
    merge_upsert(
        spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"],
        keep_versions=2,
    )                                                                   # v2: 4 rows
    assert read_table(spark, path, version=1).count() == 3
    assert read_table(spark, path, version=2).count() == 4
    merge_upsert(
        spark, path, _frame(spark, [(10, "dA", 1.0)]), keys=["k"],
        keep_versions=2,
    )                                                                   # v3 sweeps v1
    with pytest.raises(ValueError, match="retained sequences"):
        read_table(spark, path, version=1)
    assert read_table(spark, path, version=3).count() == 5


def test_append_writers_reject_versioned_tables(spark, tmp_path, target):
    """append/idempotent_append into a versioned table would write
    outside the _CURRENT snapshot (silently invisible to readers) —
    they must raise instead."""
    path = str(tmp_path / "vguard")
    merge_upsert(spark, path, target, keys=["k"])
    with pytest.raises(ValueError, match="versioned table"):
        append(target, path)
    with pytest.raises(ValueError, match="versioned table"):
        idempotent_append(spark, path, target, keys=["k"])


def test_merge_versioned_concurrent_reader_always_full_snapshot(
    spark, tmp_path, target
):
    """Reader-safety under concurrent merges (VERDICT r02 item 4): a
    reader resolving the _CURRENT pointer mid-merge-storm must always
    see a complete snapshot — counts only ever step through the commit
    sequence, never a partial/missing directory."""
    import threading

    path = str(tmp_path / "cvt")
    merge_upsert(spark, path, target, keys=["k"])  # 3 rows
    errors: list[Exception] = []
    counts: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_table(spark, path).count())
            except Exception as e:  # noqa: BLE001 - the assertion target
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(5):
            merge_upsert(
                spark,
                path,
                _frame(spark, [(100 + i, "dc", float(i))]),
                keys=["k"],
                keep_versions=20,  # park old snapshots for slow readers
            )
    finally:
        stop.set()
        t.join()
    assert errors == []
    assert counts, "reader never completed a read"
    assert set(counts) <= {3 + i for i in range(6)}  # only full snapshots
    assert counts == sorted(counts)  # snapshots observed in commit order


def test_merge_upsert_partition_scoped(spark, tmp_path, target):
    """Touched partitions are rewritten; untouched leaves are carried
    into the new snapshot as HARDLINKS of the previous snapshot's files
    (same inode — metadata-only, zero data copy), and the commit is a
    reader-safe pointer flip (VERDICT r03 item 4)."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
    )

    path = str(tmp_path / "p")
    merge_upsert(spark, path, target, keys=["k", "day"], partition_col="day")
    v1 = _resolve_data_dir(path)
    assert v1 != path  # partitioned merges use the versioned layout too
    d2_before = {
        f: os.stat(os.path.join(v1, "day=d2", f)).st_ino
        for f in os.listdir(os.path.join(v1, "day=d2"))
        if f.endswith(".parquet")
    }
    batch = _frame(spark, [(1, "d1", 100.0)])
    merge_upsert(spark, path, batch, keys=["k", "day"], partition_col="day")
    v2 = _resolve_data_dir(path)
    assert v2 != v1
    d2_after = {
        f: os.stat(os.path.join(v2, "day=d2", f)).st_ino
        for f in os.listdir(os.path.join(v2, "day=d2"))
        if f.endswith(".parquet")
    }
    assert d2_after == d2_before  # untouched leaf: same files, same inodes
    got = dict(((r.k, r.day), r.v) for r in read_table(spark, path).collect())
    assert got[(1, "d1")] == 100.0 and got[(3, "d2")] == 3.0 and len(got) == 3


def test_merge_upsert_partition_scoped_migrates_legacy_layout(
    spark, tmp_path, target
):
    """A pre-versioning plain partitioned dir is absorbed: first merge
    snapshots it (hardlinking untouched leaves), retires the top-level
    leaf dirs, and readers see the merged table."""
    import os

    path = str(tmp_path / "pl")
    target.write.mode("overwrite").partitionBy("day").parquet(path)
    batch = _frame(spark, [(1, "d1", 100.0)])
    merge_upsert(spark, path, batch, keys=["k", "day"], partition_col="day")
    assert os.path.isfile(os.path.join(path, "_CURRENT"))
    assert not os.path.isdir(os.path.join(path, "day=d1"))  # legacy retired
    got = dict(((r.k, r.day), r.v) for r in read_table(spark, path).collect())
    assert got[(1, "d1")] == 100.0 and got[(3, "d2")] == 3.0 and len(got) == 3


def test_merge_upsert_partition_scoped_timestamp_col(spark, tmp_path):
    """Partition values whose Spark dir rendering differs from str(py value)
    (timestamps URL-escape ':' as %3A) must still merge — the snapshot
    carries the leaf dirs Spark actually wrote, never reconstructed names."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2026, 1, 5, 10, 30), 1.0),
        (2, dt.datetime(2026, 1, 6, 11, 45), 2.0),
    ]
    schema = "k int, ts timestamp_ntz, v double"
    target = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "ts")
    merge_upsert(spark, path, target, keys=["k", "ts"], partition_col="ts")
    batch = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 5, 10, 30), 100.0)], schema
    )
    merge_upsert(spark, path, batch, keys=["k", "ts"], partition_col="ts")
    got = {(r.k): r.v for r in read_table(spark, path).collect()}
    assert got[1] == 100.0 and got[2] == 2.0 and len(got) == 2


def test_merge_partitioned_concurrent_reader_full_snapshot(
    spark, tmp_path, target
):
    """Reader-safety on the PARTITIONED path (the 100 TB path — VERDICT
    r03 item 4): a reader resolving _CURRENT mid-merge-storm always sees
    a complete snapshot; counts only step through the commit sequence."""
    import threading

    path = str(tmp_path / "pcr")
    merge_upsert(spark, path, target, keys=["k", "day"], partition_col="day")
    errors: list[Exception] = []
    counts: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                counts.append(read_table(spark, path).count())
            except Exception as e:  # noqa: BLE001 - the assertion target
                errors.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(5):
            merge_upsert(
                spark,
                path,
                _frame(spark, [(100 + i, "d1", float(i))]),
                keys=["k", "day"],
                partition_col="day",
                keep_versions=20,  # park old snapshots for slow readers
            )
    finally:
        stop.set()
        t.join()
    assert errors == []
    assert counts, "reader never completed a read"
    assert set(counts) <= {3 + i for i in range(6)}  # only full snapshots
    assert counts == sorted(counts)  # snapshots observed in commit order


def test_concurrent_merge_raises_instead_of_lost_update(
    spark, tmp_path, target
):
    """Two writers on one table: the second raises ConcurrentWriteError
    (VERDICT r03 item 10) instead of silently shadowing the first commit."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        ConcurrentWriteError,
        _write_lock,
    )

    path = str(tmp_path / "lock")
    merge_upsert(spark, path, target, keys=["k"])
    with _write_lock(path):  # simulate an in-flight writer
        with pytest.raises(ConcurrentWriteError, match="single-writer"):
            merge_upsert(
                spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"]
            )
    # lock released → the same merge now succeeds
    merge_upsert(spark, path, _frame(spark, [(9, "d9", 9.0)]), keys=["k"])
    assert read_table(spark, path).count() == 4


def test_idempotent_append_file_rerun_safe(spark, tmp_path, target):
    path = str(tmp_path / "i")
    idempotent_append(spark, path, target, keys=["k"])
    batch = _frame(spark, [(3, "zz", 333.0), (7, "d7", 7.0)])
    idempotent_append(spark, path, batch, keys=["k"])
    idempotent_append(spark, path, batch, keys=["k"])
    got = _sorted(spark.read.parquet(path))
    assert len(got) == 4  # 3 original + k=7; k=3 never overwritten
    assert (3, "zz", 333.0) not in got


def test_append_accumulates(spark, tmp_path, target):
    path = str(tmp_path / "a")
    append(target, path)
    append(target, path)
    assert spark.read.parquet(path).count() == 6  # v1 semantics: duplicates


def _scd_frame(spark, rows):
    return spark.createDataFrame(
        rows, "k int, v string, valid_from timestamp_ntz, valid_to timestamp_ntz, is_current boolean"
    )


def test_scd2_apply_versions_changes_and_inserts(spark):
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import scd2_apply
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    target = _scd_frame(
        spark,
        [(1, "a", t0, None, True), (2, "b", t0, None, True)],
    )
    batch = spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string")
    out = scd2_apply(target, batch, keys=["k"], effective_ts="2026-02-01 00:00:00")
    rows = {(r.k, r.v): r for r in out.collect()}
    assert len(rows) == 4
    # k=1 changed: old version closed, new current opened
    assert rows[(1, "a")].is_current is False
    assert rows[(1, "a")].valid_to == dt.datetime(2026, 2, 1)
    assert rows[(1, "a2")].is_current is True and rows[(1, "a2")].valid_to is None
    # k=2 untouched; k=3 new
    assert rows[(2, "b")].is_current is True
    assert rows[(3, "c")].valid_from == dt.datetime(2026, 2, 1)
    # invariant: exactly one current row per key
    cur = out.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_apply_null_key_closes_and_versions(spark):
    """ADVICE-r04 pattern applied to SCD2: a NULL key value is a real
    key under eqNullSafe — its changed current row must close, and the
    one-current-per-key invariant must hold for the NULL key too."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import scd2_apply
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    target = _scd_frame(
        spark, [(None, "a", t0, None, True), (2, "b", t0, None, True)]
    )
    batch = spark.createDataFrame([(None, "a2")], "k int, v string")
    out = scd2_apply(target, batch, keys=["k"], effective_ts="2026-02-01 00:00:00")
    rows = {(r.k, r.v): r for r in out.collect()}
    assert len(rows) == 3
    assert rows[(None, "a")].is_current is False
    assert rows[(None, "a")].valid_to == dt.datetime(2026, 2, 1)
    assert rows[(None, "a2")].is_current is True
    assert rows[(2, "b")].is_current is True
    # re-applying the same batch is still a no-op for the NULL key
    again = scd2_apply(out, batch, keys=["k"], effective_ts="2026-03-01 00:00:00")
    assert again.count() == 3


def test_scd2_apply_is_idempotent(spark):
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import scd2_apply
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    target = _scd_frame(spark, [(1, "a", t0, None, True)])
    batch = spark.createDataFrame([(1, "a2")], "k int, v string")
    once = scd2_apply(target, batch, keys=["k"], effective_ts="2026-02-01 00:00:00")
    twice = scd2_apply(once, batch, keys=["k"], effective_ts="2026-03-01 00:00:00")
    # same attrs again: no new version, history unchanged
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


class TestCompaction:
    def test_compact_reduces_files_and_preserves_rows(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
            compact_parquet,
        )

        path = str(tmp_path / "t")
        df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
        df.repartition(16).write.parquet(path)
        import glob

        before = glob.glob(path + "/part-*.parquet")
        assert len(before) == 16
        n = compact_parquet(spark, path, target_file_bytes=1 << 30)
        after = glob.glob(path + "/part-*.parquet")
        assert n == 1 and len(after) == 1
        got = sorted((r.id, r.v) for r in spark.read.parquet(path).collect())
        assert got == [(i, 2 * i) for i in range(10_000)]

    def test_compact_splits_to_target_size(self, spark, tmp_path):
        from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
            compact_parquet,
        )

        path = str(tmp_path / "t2")
        spark.range(0, 50_000).selectExpr(
            "id", "repeat('x', 64) AS pad"
        ).repartition(20).write.parquet(path)
        n = compact_parquet(spark, path, target_file_bytes=40_000, shuffle=True)
        import glob

        assert n > 1
        assert len(glob.glob(path + "/part-*.parquet")) == n
        assert spark.read.parquet(path).count() == 50_000


class TestPartitionedCompaction:
    def test_plain_partitioned_compacts_only_skewed_leaf(self, spark, tmp_path):
        """Per-leaf compaction (VERDICT r03 item 9): the fragmented leaf
        is rewritten, the already-compact leaf is not even read."""
        import glob
        import os

        from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
            compact_parquet,
        )

        path = str(tmp_path / "pp")
        good = spark.range(0, 100).selectExpr("id", "'a' AS part")
        good.coalesce(1).write.partitionBy("part").parquet(path)
        skew = spark.range(100, 10_100).selectExpr("id", "'b' AS part")
        skew.repartition(16).write.mode("append").partitionBy("part").parquet(path)

        good_leaf = os.path.join(path, "part=a")
        skew_leaf = os.path.join(path, "part=b")
        good_before = {
            f: os.stat(os.path.join(good_leaf, f)).st_ino
            for f in os.listdir(good_leaf)
            if f.endswith(".parquet")
        }
        assert len(glob.glob(skew_leaf + "/part-*.parquet")) == 16

        compact_parquet(spark, path, target_file_bytes=1 << 30)

        assert len(glob.glob(skew_leaf + "/part-*.parquet")) == 1
        good_after = {
            f: os.stat(os.path.join(good_leaf, f)).st_ino
            for f in os.listdir(good_leaf)
            if f.endswith(".parquet")
        }
        assert good_after == good_before  # untouched leaf: same files
        got = sorted(r.id for r in spark.read.parquet(path).collect())
        assert got == list(range(10_100))

    def test_versioned_partitioned_compacts_into_new_snapshot(
        self, spark, tmp_path
    ):
        """Compacting a versioned partitioned table is reader-safe: new
        snapshot + pointer flip; compact leaves ride through as links."""
        import glob
        import os

        from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
            _resolve_data_dir,
            compact_parquet,
            merge_upsert,
            read_table,
        )

        path = str(tmp_path / "vp")
        base = spark.createDataFrame(
            [(i, "d1" if i % 2 else "d2", float(i)) for i in range(20)],
            "k int, day string, v double",
        )
        # hand-build a fragmented committed snapshot (as an append-heavy
        # writer would leave behind): 8-way repartition → multi-file leaves
        vdir = os.path.join(path, "v_000001_fixture")
        base.repartition(8).write.partitionBy("day").parquet(vdir)
        with open(os.path.join(path, "_CURRENT"), "w") as f:
            f.write("v_000001_fixture")
        with open(os.path.join(path, "_COMMITS"), "w") as f:
            f.write("v_000001_fixture\n")
        v_before = _resolve_data_dir(path)
        frag = len(glob.glob(v_before + "/day=d1/part-*.parquet"))
        assert frag > 1
        compact_parquet(spark, path, target_file_bytes=1 << 30)
        v_after = _resolve_data_dir(path)
        assert v_after != v_before  # reader-safe: a new committed snapshot
        assert len(glob.glob(v_after + "/day=d1/part-*.parquet")) == 1 < frag
        assert read_table(spark, path).count() == 20


def test_delete_rows_versioned_and_complete(spark, tmp_path):
    """GDPR subject delete: the subject vanishes from the current
    snapshot, the commit is versioned (readers keep a complete
    snapshot), and keep_versions=1 physically removes the old data."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        delete_rows,
        merge_upsert,
        read_table,
    )

    path = str(tmp_path / "events_t")
    df = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 10).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    merge_upsert(spark, path, df, keys=["event_id"])

    n = delete_rows(spark, path, "user_id = 7", keep_versions=1)
    assert n == 10
    back = read_table(spark, path)
    assert back.count() == 90
    assert back.filter("user_id = 7").count() == 0
    # keep_versions=1: no retained snapshot still contains the subject
    import glob, os
    vdirs = [d for d in glob.glob(os.path.join(path, "v_*")) if os.path.isdir(d)]
    for d in vdirs:
        assert spark.read.parquet(d).filter("user_id = 7").count() == 0

    # idempotent: deleting again removes nothing
    assert delete_rows(spark, path, "user_id = 7") == 0


def test_merge_schema_evolution(spark, tmp_path):
    """New source columns are rejected loudly; a target widened first
    takes them, NULL-backfilled, and the path writer keeps the same
    contract."""
    import pytest
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        merge_upsert,
        merge_upsert_df,
        read_table,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    batch = spark.createDataFrame(
        [(2, "B", 9.5), (3, "c", 7.0)], "k long, v string, score double"
    )
    with pytest.raises(ValueError, match="score"):
        merge_upsert_df(target, batch, ["k"])

    widened = target.withColumn("score", F.lit(None).cast("double"))
    got = {
        r.k: (r.v, r.score)
        for r in merge_upsert_df(widened, batch, ["k"]).collect()
    }
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 7.0)}

    # the path writer inherits the contract: default merge of an
    # evolving batch raises; the table is untouched
    path = str(tmp_path / "t")
    merge_upsert(spark, path, target, keys=["k"])
    with pytest.raises(ValueError, match="score"):
        merge_upsert(spark, path, batch, keys=["k"])
    assert read_table(spark, path).columns == ["k", "v"]


def test_zorder_rejects_null_cluster_values(spark, tmp_path):
    """NULL in a cluster column would NULL the Morton key (one unbounded
    file, no skipping) and an all-NULL column has no min/max to
    normalize against: both reject loudly, and nothing is written."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        zorder_write_grid,
    )

    some_null = spark.createDataFrame(
        [(1, 1), (2, None), (3, 3)], "x long, y long"
    )
    with pytest.raises(ValueError, match="'y' contains NULLs"):
        zorder_write_grid(some_null, str(tmp_path / "z1"), "x", "y")

    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "x long, y long"
    )
    with pytest.raises(ValueError, match="'y' contains NULLs"):
        zorder_write_grid(all_null, str(tmp_path / "z2"), "x", "y")
    assert not (tmp_path / "z1").exists()
    assert not (tmp_path / "z2").exists()


def test_table_versions_and_time_travel_read(spark, tmp_path, target):
    """table_versions lists retained committed sequences oldest-first;
    read_table(version=...) reproduces each retained snapshot exactly,
    and a swept/unknown sequence raises with the available ones."""
    import pytest

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        table_versions,
    )

    path = str(tmp_path / "tt")
    assert table_versions(path) == []
    merge_upsert(spark, path, target, keys=["k"])  # snapshot A: 3 rows
    merge_upsert(
        spark, path, _frame(spark, [(99, "new", 9.9)]), keys=["k"]
    )  # snapshot B: 4 rows
    vers = table_versions(path)
    assert len(vers) == 2 and vers == sorted(vers)
    assert read_table(spark, path, version=vers[0]).count() == 3
    assert read_table(spark, path, version=vers[1]).count() == 4
    assert _sorted(read_table(spark, path, version=vers[1])) == _sorted(
        read_table(spark, path)
    )
    # a third commit sweeps the oldest (keep_versions=2)
    merge_upsert(spark, path, _frame(spark, [(98, "new2", 8.8)]), keys=["k"])
    assert table_versions(path) == [vers[1], vers[1] + 1]
    with pytest.raises(ValueError, match="retained"):
        read_table(spark, path, version=vers[0])


def test_expire_versions_sweeps_to_keep_last(spark, tmp_path, target):
    """Explicit VACUUM: keep_versions=10 retains every commit; a
    standalone expire_versions(keep_last=1) reclaims all but the
    current snapshot, and time travel to it still reads exactly."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        expire_versions,
        table_versions,
    )

    path = str(tmp_path / "vac")
    merge_upsert(spark, path, target, keys=["k"], keep_versions=10)
    for i in range(3):
        merge_upsert(
            spark, path, _frame(spark, [(70 + i, "dv", float(i))]),
            keys=["k"], keep_versions=10,
        )
    vers = table_versions(path)
    assert len(vers) == 4  # keep_versions=10 retained every commit
    before = _sorted(read_table(spark, path))
    swept = expire_versions(path, keep_last=1)
    assert swept == vers[:-1]
    assert table_versions(path) == [vers[-1]]
    assert _sorted(read_table(spark, path)) == before
    assert _sorted(read_table(spark, path, version=vers[-1])) == before
    with pytest.raises(ValueError, match="retained"):
        read_table(spark, path, version=vers[0])
    # idempotent: nothing left to sweep
    assert expire_versions(path, keep_last=1) == []


def test_expire_versions_sweeps_crash_orphans_and_keeps_current(
    spark, tmp_path, target
):
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        expire_versions,
        table_versions,
    )

    path = str(tmp_path / "vac2")
    merge_upsert(spark, path, target, keys=["k"], keep_versions=10)
    merge_upsert(
        spark, path, _frame(spark, [(99, "dz", 9.0)]), keys=["k"],
        keep_versions=10,
    )
    # fabricate a crash orphan: a v_* dir with no ledger entry, higher seq
    orphan = os.path.join(path, "v_000777_deadbeef")
    os.makedirs(orphan)
    vers = table_versions(path)
    swept = expire_versions(path, keep_last=2)  # both commits retained
    assert 777 in swept and table_versions(path) == vers
    assert not os.path.isdir(orphan)


def test_expire_versions_rejects_bad_args_and_plain_dirs(
    spark, tmp_path, target
):
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        expire_versions,
    )

    import os

    plain = str(tmp_path / "plain")
    target.write.parquet(plain)
    with pytest.raises(ValueError, match="not a versioned table"):
        expire_versions(plain, keep_last=1)
    with pytest.raises(ValueError, match="keep_last"):
        expire_versions(plain, keep_last=0)
    # an admin op on a typo'd path stays read-only — no mkdir side effect
    missing = str(tmp_path / "no" / "such" / "table")
    with pytest.raises(ValueError, match="not a versioned table"):
        expire_versions(missing, keep_last=1)
    assert not os.path.exists(missing)


def test_snapshot_stats_manifest_matches_footers(spark, tmp_path, target):
    """VERDICT r12 item 4: the commit-time stats manifest must be
    VALUE-IDENTICAL to a live footer walk (same files, n_rows, bounds,
    skip decisions), reuse hardlinked entries across commits, and
    degrade to footers when the sidecar is absent."""
    import json
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _SNAPSHOT_META,
        _resolve_data_dir,
        file_skip_report,
        history_file_stats,
        snapshot_partition_spec,
    )

    path = str(tmp_path / "tbl")
    merge_upsert(spark, path, target, keys=["k", "day"], partition_col="day")
    src = _frame(spark, [(2, "d1", 20.0)])  # touches d1 only; d2 hardlinks
    merge_upsert(spark, path, src, keys=["k", "day"], partition_col="day")

    vdir = _resolve_data_dir(path)
    sidecar = os.path.join(vdir, _SNAPSHOT_META)
    assert os.path.isfile(sidecar)
    meta = json.load(open(sidecar))
    assert meta["partition_spec"] == ["day"]
    assert meta["file_stats"], "census must not be empty"
    # hardlink reuse: the untouched d2 leaf's entries are carried
    # verbatim from the previous snapshot's manifest (same ino+bytes)
    prev_vdirs = sorted(
        d for d in os.listdir(path)
        if d.startswith("v_") and os.path.isdir(os.path.join(path, d))
    )
    assert len(prev_vdirs) == 2
    prev_meta = json.load(
        open(os.path.join(path, prev_vdirs[0], _SNAPSHOT_META))
    )
    d2_rels = [r for r in meta["file_stats"] if r.startswith("day=d2")]
    assert d2_rels
    for r in d2_rels:
        assert meta["file_stats"][r] == prev_meta["file_stats"][r]

    # manifest-served stats == live footer walk (force fallback by
    # hiding the sidecar), keyed by path
    def by_path(stats):
        return {
            s["path"]: (s["n_rows"], s["mins"], s["maxs"]) for s in stats
        }

    from_manifest = by_path(history_file_stats(path, ["v", "k"]))
    os.rename(sidecar, sidecar + ".hidden")
    try:
        from_footers = by_path(history_file_stats(path, ["v", "k"]))
    finally:
        os.rename(sidecar + ".hidden", sidecar)
    assert from_manifest == from_footers

    # file_skip_report: manifest path == footer path, incl. decisions
    bounds = {"v": (15.0, 25.0)}
    rep_m = {r["path"]: (r["n_rows"], r["skip"]) for r in
             file_skip_report(vdir, bounds)}
    os.rename(sidecar, sidecar + ".hidden")
    try:
        rep_f = {r["path"]: (r["n_rows"], r["skip"]) for r in
                 file_skip_report(vdir, bounds)}
    finally:
        os.rename(sidecar + ".hidden", sidecar)
    assert rep_m == rep_f
    assert any(s for _, s in rep_m.values()), "some file should skip"
    assert not all(s for _, s in rep_m.values())

    # spec surface: unpartitioned table records []
    path2 = str(tmp_path / "tbl2")
    merge_upsert(spark, path2, target, keys=["k"])
    assert snapshot_partition_spec(path2) == ([], None)
    assert snapshot_partition_spec(path) == (["day"], None)


def test_partition_spec_evolution_lifecycle(spark, tmp_path):
    """VERDICT r12 item 3: spec evolution carried in table history —
    evolve is metadata-only (hardlinks, no rewrite), merges route
    updates to their ORIGINAL layout and new keys to the active spec,
    read_table resolves the layout map from the snapshot itself, and
    time travel still works across the evolution boundary."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        evolve_partition_spec,
        merge_upsert,
        read_table,
        snapshot_partition_spec,
        table_versions,
    )

    rows_v1 = [
        (1, "d1", "view", 1.0),
        (2, "d1", "click", 2.0),
        (3, "d2", "view", 3.0),
    ]
    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "events_tbl")
    merge_upsert(
        spark, path, spark.createDataFrame(rows_v1, schema),
        keys=keys, partition_col="day", keep_versions=10,
    )

    evolve_partition_spec(spark, path, ["day", "typ"], keep_versions=10)
    assert snapshot_partition_spec(path) == (
        ["day", "typ"],
        [
            {"dir": "layout_000", "partition_cols": ["day"]},
            {"dir": "layout_001", "partition_cols": ["day", "typ"]},
        ],
    )
    # metadata-only: same rows, and the carried file is the SAME inode
    assert _sorted_t(read_table(spark, path)) == sorted(rows_v1)
    v1_dir = os.path.join(path, sorted(
        d for d in os.listdir(path) if d.startswith("v_")
    )[0])
    v2_dir = _resolve_data_dir(path)
    f_old = _one_parquet(os.path.join(v1_dir, "day=d2"))
    f_new = _one_parquet(os.path.join(v2_dir, "layout_000", "day=d2"))
    assert os.stat(f_old).st_ino == os.stat(f_new).st_ino

    # the layout map decides partitioning: a partition_col other than
    # the active spec is refused
    with pytest.raises(ValueError, match="evolve_partition_spec"):
        merge_upsert(
            spark, path, spark.createDataFrame(rows_v1[:1], schema),
            keys=keys, partition_col="day",
        )

    # cross-boundary merge: update one pre-evolution row + insert new
    batch = spark.createDataFrame(
        [(2, "d1", "click", 20.0),      # update (lives in layout_000)
         (4, "d2", "view", 4.0),        # new key -> layout_001
         (5, "d3", "click", 5.0)],      # new key, new day -> layout_001
        schema,
    )
    merge_upsert(spark, path, batch, keys=keys, keep_versions=10)
    want = [
        (1, "d1", "view", 1.0), (2, "d1", "click", 20.0),
        (3, "d2", "view", 3.0), (4, "d2", "view", 4.0),
        (5, "d3", "click", 5.0),
    ]
    assert _sorted_t(read_table(spark, path)) == want

    v3_dir = _resolve_data_dir(path)
    # the UPDATE stayed under the OLD spec's layout...
    lay0 = spark.read.parquet(os.path.join(v3_dir, "layout_000"))
    assert _sorted_t(lay0) == want[:3]
    # ...and only NEW keys live under the evolved spec
    lay1 = spark.read.parquet(os.path.join(v3_dir, "layout_001"))
    assert _sorted_t(lay1) == want[3:]
    assert os.path.isdir(os.path.join(v3_dir, "layout_001", "day=d2",
                                      "typ=view"))
    # untouched old leaf (day=d2) carried as a hardlink, not rewritten
    f3 = _one_parquet(os.path.join(v3_dir, "layout_000", "day=d2"))
    assert os.stat(f3).st_ino == os.stat(f_old).st_ino

    # time travel across the boundary: v1 (flat) and v2 (evolved,
    # metadata-only) both read the pre-merge state
    vs = table_versions(path)
    assert len(vs) == 3
    assert _sorted_t(read_table(spark, path, version=vs[0])) == sorted(rows_v1)
    assert _sorted_t(read_table(spark, path, version=vs[1])) == sorted(rows_v1)

    # second evolution appends layout_002
    evolve_partition_spec(spark, path, ["typ"], keep_versions=10)
    spec, lays = snapshot_partition_spec(path)
    assert spec == ["typ"] and [la["dir"] for la in lays] == [
        "layout_000", "layout_001", "layout_002"
    ]
    merge_upsert(
        spark, path,
        spark.createDataFrame([(6, "d9", "view", 6.0)], schema),
        keys=keys, keep_versions=10,
    )
    assert _sorted_t(read_table(spark, path)) == want + [(6, "d9", "view", 6.0)]


def _sorted_t(df):
    return sorted(
        tuple(r) for r in df.select("id", "day", "typ", "v").collect()
    )


def _one_parquet(d):
    import os

    fs = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert fs, f"no parquet under {d}"
    return os.path.join(d, sorted(fs)[0])


def test_append_landing_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a redelivered batch must land on
    the SAME deterministic file names (overwrite), never duplicate; a
    new batch id appends."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        append_landing_batch,
    )

    zone = str(tmp_path / "zone")
    b7 = _frame(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    n1 = append_landing_batch(b7, zone, ["day"], 7)
    assert n1 >= 2  # one file per touched leaf at least

    def census():
        out = {}
        for r, _d, fs in os.walk(zone):
            for f in fs:
                if f.endswith(".parquet"):
                    out[os.path.relpath(os.path.join(r, f), zone)] = (
                        os.path.getsize(os.path.join(r, f))
                    )
        return out

    first = census()
    assert all(f.split(os.sep)[-1].startswith("b000007-") for f in first)
    n2 = append_landing_batch(b7, zone, ["day"], 7)  # redelivery
    assert n2 == n1 and set(census()) == set(first)
    assert _sorted(spark.read.parquet(zone).select("k", "day", "v")) == [
        (1, "d1", 1.0), (2, "d2", 2.0)
    ]
    append_landing_batch(_frame(spark, [(3, "d1", 3.0)]), zone, ["day"], 8)
    assert _sorted(spark.read.parquet(zone).select("k", "day", "v")) == [
        (1, "d1", 1.0), (2, "d2", 2.0), (3, "d1", 3.0)
    ]
    # no staging dir left behind
    assert not [d for d in os.listdir(str(tmp_path)) if "__b" in d]


def test_read_table_skipping_prunes_and_preserves_partitions(spark, tmp_path):
    """Manifest-driven scan planning: the kept file list must be a
    STRICT subset of the census for a selective predicate, the pruned
    read must equal the unpruned read under the same filter, hive
    partition columns must survive the basePath file-list scan, and an
    all-skipped predicate returns an empty frame with the table schema."""
    import os

    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        history_file_stats,
        read_table,
        read_table_skipping,
    )

    # price buckets as hive leaves: files genuinely segregate v
    rows = [(i, f"d{i % 3}", float(10 * (i % 5) + i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, day string, v double")
    base = df.withColumn(
        "bucket", F.floor(F.col("v") / 10.0).cast("bigint")
    )
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path, base, keys=["k", "bucket"], partition_col="bucket"
    )

    census = {s["path"] for s in history_file_stats(path, ["v"])}
    lo, hi = 0.0, 9.5  # only bucket 0 can match
    pruned = read_table_skipping(spark, path, {"v": (lo, hi)})
    kept = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    kept = {k.replace("file://", "").replace("file:", "") for k in kept}
    assert kept < census, f"no pruning happened: {len(kept)}/{len(census)}"

    def rows_of(d):
        return sorted(
            tuple(r)
            for r in d.filter(F.col("v").between(lo, hi))
            .select("k", "day", "v", "bucket")
            .collect()
        )

    assert rows_of(pruned) == rows_of(read_table(spark, path))
    assert rows_of(pruned), "selective band should still match rows"
    # partition column reconstructed from directory names
    assert {r.bucket for r in pruned.select("bucket").distinct().collect()} \
        == {0}
    # all-skipped predicate: empty frame, full schema, zero files scanned
    empty = read_table_skipping(spark, path, {"v": (10000.0, 20000.0)})
    assert empty.count() == 0
    assert set(empty.columns) == set(read_table(spark, path).columns)

    # spec-evolved snapshot: per-layout skipping still exact
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        evolve_partition_spec,
    )

    evolve_partition_spec(spark, path, ["bucket", "day"])
    extra = spark.createDataFrame(
        [(100, "d9", 55.0)], "k int, day string, v double"
    ).withColumn("bucket", F.floor(F.col("v") / 10.0).cast("bigint"))
    merge_upsert(
        spark, path, extra, keys=["k", "bucket", "day"]
    )
    got = read_table_skipping(spark, path, {"v": (50.0, 60.0)})
    hit = sorted(
        tuple(r)
        for r in got.filter(F.col("v").between(50.0, 60.0))
        .select("k", "day", "v", "bucket").collect()
    )
    want = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .filter(F.col("v").between(50.0, 60.0))
        .select("k", "day", "v", "bucket").collect()
    )
    assert hit == want and (100, "d9", 55.0, 5) in hit


def test_merge_upsert_evolved_emits_scoped_cdf(spark, tmp_path):
    """The evolved merge's change feed must be EXACTLY the induced
    delta: pre/post pairs for the old-layout in-place rewrite, inserts
    for the active layout, nothing from untouched partitions, stamped
    with the commit's sequence."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        evolve_partition_spec,
        merge_upsert,
        read_table_changes,
        table_versions,
    )

    rows_v1 = [
        (1, "d1", "view", 1.0),
        (2, "d1", "click", 2.0),
        (3, "d2", "view", 3.0),
    ]
    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path, spark.createDataFrame(rows_v1, schema),
        keys=keys, partition_col="day", keep_versions=10,
    )
    evolve_partition_spec(spark, path, ["day", "typ"], keep_versions=10)
    batch = spark.createDataFrame(
        [(2, "d1", "click", 20.0), (4, "d2", "view", 4.0),
         (5, "d3", "click", 5.0)],
        schema,
    )
    merge_upsert(
        spark, path, batch, keys=keys, keep_versions=10, emit_cdf=True
    )
    seq = table_versions(path)[-1]
    feed = {
        (r._change_type, r.id, r.day, r.typ, r.v, r._commit_version)
        for r in read_table_changes(spark, path).collect()
    }
    assert feed == {
        ("update_preimage", 2, "d1", "click", 2.0, seq),
        ("update_postimage", 2, "d1", "click", 20.0, seq),
        ("insert", 4, "d2", "view", 4.0, seq),
        ("insert", 5, "d3", "click", 5.0, seq),
    }


_SHAPE_SCHEMA = "k bigint, day string, typ string, v double"
_SHAPE_KEYS = ["k", "day", "typ"]
_SHAPES = ["flat", "partitioned", "spec_evolved"]


def _shape_rows(n):
    return [(k, f"d{k % 3}", "ab"[k % 2], float(k)) for k in range(n)]


def _table_of_shape(spark, path, shape, rows):
    """A versioned table in one of the shapes the writers rewrite:
    flat unpartitioned, flat partitioned by day, or spec-evolved
    (day, then day + typ) with the rows split across both layouts.
    AQE coalescing is scoped off so every shuffle task writes its own
    file: leaves start fragmented."""
    half = len(rows) // 2 if shape == "spec_evolved" else len(rows)
    prev = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        merge_upsert(
            spark, path, spark.createDataFrame(rows[:half], _SHAPE_SCHEMA),
            keys=_SHAPE_KEYS, keep_versions=10,
            partition_col=None if shape == "flat" else "day",
        )
        if shape == "spec_evolved":
            from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
                evolve_partition_spec,
            )

            evolve_partition_spec(spark, path, ["day", "typ"],
                                  keep_versions=10)
            merge_upsert(
                spark, path,
                spark.createDataFrame(rows[half:], _SHAPE_SCHEMA),
                keys=_SHAPE_KEYS, keep_versions=10,
            )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev
        )


@pytest.mark.parametrize("shape", _SHAPES)
def test_delete_then_compact_every_table_shape(spark, tmp_path, shape):
    """One delete_rows and one compact_parquet for every versioned
    table shape, both driven by the snapshot's layout map (a flat table
    is one layout rooted at the snapshot dir): rows follow a Python
    model, the partition spec survives, a delete matching nothing and
    the leaves a delete did not touch keep their inodes, and
    already-compact leaves ride through compaction unread."""
    import os
    from collections import Counter

    from etl_end_to_end_airflow_bigquery_spark.io import iter_data_files
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        compact_parquet,
        delete_rows,
        snapshot_partition_spec,
    )

    path = str(tmp_path / "tbl")
    rows = _shape_rows(24)
    _table_of_shape(spark, path, shape, rows)
    spec = snapshot_partition_spec(path)

    def inodes():
        vdir = _resolve_data_dir(path)
        return {rel: os.stat(p).st_ino for rel, p in iter_data_files(vdir)}

    def files_per_leaf(files):
        return Counter(os.path.dirname(rel) for rel in files)

    def table():
        return sorted(
            tuple(r)
            for r in read_table(spark, path)
            .select("k", "day", "typ", "v").collect()
        )

    base = inodes()
    assert delete_rows(spark, path, "k < 0", keep_versions=10) == 0
    assert inodes() == base, "a delete matching nothing rewrites nothing"

    model = [r for r in rows if not (r[1] == "d0" and r[0] % 2 == 0)]
    n = delete_rows(
        spark, path, "day = 'd0' AND k % 2 = 0", keep_versions=10
    )
    assert n == len(rows) - len(model)
    assert table() == model
    assert snapshot_partition_spec(path) == spec
    deleted = inodes()
    untouched = [rel for rel in base if "day=" in rel and "day=d0" not in rel]
    assert bool(untouched) == (shape != "flat")
    for rel in untouched:
        assert deleted[rel] == base[rel], rel
    if shape != "flat":
        assert all("day=" in rel for rel in deleted), sorted(deleted)

    per_leaf = files_per_leaf(deleted)
    assert max(per_leaf.values()) > 1, "fixture must be fragmented"
    n_out = compact_parquet(spark, path, target_file_bytes=1 << 30)
    compacted = inodes()
    assert set(files_per_leaf(compacted).values()) == {1}
    assert n_out == len(compacted)
    for rel, ino in compacted.items():
        if per_leaf[os.path.dirname(rel)] == 1:
            assert deleted[rel] == ino, rel
    assert table() == model
    assert snapshot_partition_spec(path) == spec


def test_delete_rows_keeps_partitioning_for_scoped_merges(spark, tmp_path):
    """A delete on a day-partitioned table keeps its day= leaves, so
    the next partition-scoped merge still carries every untouched
    partition forward (a flat rewrite under the recorded spec left the
    merge nothing to carry: 9 rows fell to 3)."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        delete_rows,
    )

    path = str(tmp_path / "tbl")
    rows = [(k, f"d{k % 3}", float(k)) for k in range(9)]
    merge_upsert(
        spark, path, _frame(spark, rows), keys=["k", "day"],
        partition_col="day",
    )
    assert delete_rows(spark, path, "k = 4") == 1
    merge_upsert(
        spark, path, _frame(spark, [(4, "d1", 40.0)]), keys=["k", "day"],
        partition_col="day",
    )
    want = sorted([r for r in rows if r[0] != 4] + [(4, "d1", 40.0)])
    assert _sorted(read_table(spark, path).select("k", "day", "v")) == want
    vdir = _resolve_data_dir(path)
    assert sorted(d for d in os.listdir(vdir) if d.startswith("day=")) == [
        "day=d0", "day=d1", "day=d2"
    ]


def test_delete_rows_pre_sidecar_partitioned_snapshot(spark, tmp_path):
    """A snapshot committed before the sidecar records no partition
    spec: the delete takes it from the hive leaf paths, so it rewrites
    only the touched leaf under day= and carries the other one."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.io import iter_data_files
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        delete_rows,
    )

    path = str(tmp_path / "tbl")
    rows = [(k, f"d{k % 2}", float(k)) for k in range(10)]
    _frame(spark, rows).write.partitionBy("day").parquet(
        os.path.join(path, "v_000001_fixture")
    )
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write("v_000001_fixture")
    with open(os.path.join(path, "_COMMITS"), "w") as f:
        f.write("v_000001_fixture\n")
    d0 = {
        rel: os.stat(p).st_ino
        for rel, p in iter_data_files(_resolve_data_dir(path))
        if rel.startswith("day=d0")
    }
    assert delete_rows(spark, path, "k = 3") == 1
    assert _sorted(read_table(spark, path).select("k", "day", "v")) == sorted(
        r for r in rows if r[0] != 3
    )
    after = {
        rel: os.stat(p).st_ino
        for rel, p in iter_data_files(_resolve_data_dir(path))
    }
    assert all(rel.startswith("day=") for rel in after), sorted(after)
    assert {rel: after[rel] for rel in d0} == d0


@pytest.mark.parametrize("shape", _SHAPES)
def test_delete_everything_leaves_readable_empty_table(
    spark, tmp_path, shape
):
    """Deleting every row commits a snapshot that reads as an empty
    table with the pre-delete column names and types (a partitioned
    write of no rows leaves no file to read a schema from), and the
    next merge writes into it normally."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        delete_rows,
    )

    path = str(tmp_path / "tbl")
    rows = _shape_rows(12)
    _table_of_shape(spark, path, shape, rows)
    dtypes = read_table(spark, path).dtypes
    assert delete_rows(spark, path, "true") == len(rows)
    empty = read_table(spark, path)
    assert empty.count() == 0
    assert empty.dtypes == dtypes
    merge_upsert(
        spark, path,
        spark.createDataFrame([(99, "d1", "a", 9.9)], _SHAPE_SCHEMA),
        keys=_SHAPE_KEYS,
        partition_col="day" if shape == "partitioned" else None,
    )
    got = read_table(spark, path).select("k", "day", "typ", "v").collect()
    assert [tuple(r) for r in got] == [(99, "d1", "a", 9.9)]


def test_delete_rows_job_count(spark, tmp_path):
    """delete_rows takes its count from the match job and reads a flat
    snapshot with the sidecar's recorded schema: on an unpartitioned
    1,000-row table it starts at most 3 Spark jobs (the grouped match
    job's two stages under AQE, then the rewrite)."""
    import uuid

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        delete_rows,
    )

    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path,
        spark.range(1000).selectExpr("id AS k", "id * 1.5 AS v"),
        keys=["k"],
    )
    sc = spark.sparkContext
    group = f"delete_rows_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "delete_rows job count")
    try:
        n = delete_rows(spark, path, "k % 10 = 4")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 100
    assert read_table(spark, path).count() == 900
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, jobs


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return the group's job count,
    read once the listener bus has delivered every job start."""
    import uuid

    sc = spark.sparkContext
    group = f"writers_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "writer job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("shape, bound", [
    ("flat", 4), ("partitioned", 7), ("spec_evolved", 21),
])
def test_merge_upsert_job_count(spark, tmp_path, shape, bound):
    """The one layout merge keeps each table shape's Spark job budget:
    an unpartitioned merge (the FX tick's) reads with the recorded
    schema and rewrites without probing the batch (<= 4 jobs); a flat
    partitioned merge collects its footprint once (<= 7); a merge into
    a two-layout spec-evolved table that updates an old-layout row and
    inserts into the active layout stays <= 21."""
    path = str(tmp_path / "tbl")
    rows = _shape_rows(24)
    _table_of_shape(spark, path, shape, rows)
    batch = spark.createDataFrame(
        [(0, "d0", "a", -1.0), (100, "d1", "b", 100.0)], _SHAPE_SCHEMA
    )
    n = _jobs_in_group(spark, lambda: merge_upsert(
        spark, path, batch, keys=_SHAPE_KEYS, keep_versions=10
    ))
    model = {r[0]: r for r in rows}
    model.update({0: (0, "d0", "a", -1.0), 100: (100, "d1", "b", 100.0)})
    got = read_table(spark, path).select("k", "day", "typ", "v")
    assert _sorted(got) == sorted(model.values())
    assert 0 < n <= bound, n


def test_manifest_incomplete_census_falls_back_to_footers(spark, tmp_path):
    """Code-review r13: a live data file missing from the manifest
    census must force the footer fallback (else skip planning treats
    the file as nonexistent and DROPS its rows); entries for swept
    files are dropped instead of crashing the scan; a same-count swap
    (one entry dropped, one phantom added) still falls back, since the
    check is per live file, not a count."""
    import json
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _SNAPSHOT_META,
        _resolve_data_dir,
        history_file_stats,
        read_table_skipping,
    )

    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path,
        _frame(spark, [(1, "d1", 1.0), (2, "d2", 200.0)]),
        keys=["k", "day"], partition_col="day",
    )
    vdir = _resolve_data_dir(path)
    sidecar = os.path.join(vdir, _SNAPSHOT_META)
    meta = json.load(open(sidecar))
    complete = history_file_stats(path, ["v"])

    # (a) drop one live file's entry -> fallback must be identical
    crippled = dict(meta)
    crippled["file_stats"] = dict(meta["file_stats"])
    victim = sorted(crippled["file_stats"])[0]
    del crippled["file_stats"][victim]
    json.dump(crippled, open(sidecar + ".tmp", "w"))
    os.replace(sidecar + ".tmp", sidecar)
    got = history_file_stats(path, ["v"])
    assert {s["path"]: s["n_rows"] for s in got} == {
        s["path"]: s["n_rows"] for s in complete
    }
    # and the pruned read still sees EVERY row (superset guarantee)
    assert read_table_skipping(spark, path, {"v": (0.0, 1e9)}).count() == 2

    # (b) phantom entry for a swept file -> dropped, scan still works
    phantom = dict(meta)
    phantom["file_stats"] = dict(meta["file_stats"])
    some = next(iter(meta["file_stats"].values()))
    phantom["file_stats"]["day=gone/xx.parquet"] = some
    json.dump(phantom, open(sidecar + ".tmp", "w"))
    os.replace(sidecar + ".tmp", sidecar)
    got2 = history_file_stats(path, ["v"])
    assert {s["path"] for s in got2} == {s["path"] for s in complete}
    assert read_table_skipping(spark, path, {"v": (100.0, 300.0)}).count() == 1

    # (c) same-count swap: the victim's entry is gone and a phantom
    # takes its place, so the census still has one entry per live file
    swapped = dict(meta)
    swapped["file_stats"] = dict(meta["file_stats"])
    swapped["file_stats"]["day=gone/xx.parquet"] = (
        swapped["file_stats"].pop(victim)
    )
    assert len(swapped["file_stats"]) == len(complete)
    json.dump(swapped, open(sidecar + ".tmp", "w"))
    os.replace(sidecar + ".tmp", sidecar)
    got3 = history_file_stats(path, ["v"])
    assert {s["path"]: s["n_rows"] for s in got3} == {
        s["path"]: s["n_rows"] for s in complete
    }
    assert read_table_skipping(spark, path, {"v": (0.0, 1e9)}).count() == 2


def test_append_landing_batch_replay_fewer_files_no_stale_ordinals(
    spark, tmp_path
):
    """Code-review r13: a replay recomputed under different parallelism
    can stage FEWER files (or skip a leaf) — the first attempt's
    higher-ordinal files must be swept, not left behind as duplicates."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        append_landing_batch,
    )

    zone = str(tmp_path / "zone")
    rows = [(i, "d1" if i % 2 else "d2", float(i)) for i in range(8)]
    wide = _frame(spark, rows).repartition(4)     # first attempt: many files
    append_landing_batch(wide, zone, ["day"], 7)
    narrow = _frame(spark, rows).coalesce(1)      # replay: one file per leaf
    append_landing_batch(narrow, zone, ["day"], 7)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(zone).select("k", "day", "v").collect()
    )
    assert got == sorted(rows), "stale ordinals duplicated rows"
    # replay with a leaf DROPPED entirely: only d1 rows remain for b7
    only_d1 = _frame(spark, [r for r in rows if r[1] == "d1"]).coalesce(1)
    append_landing_batch(only_d1, zone, ["day"], 7)
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(zone).select("k", "day", "v").collect()
    )
    assert got2 == sorted(r for r in rows if r[1] == "d1")
    assert not any(
        f.startswith("b000007") for f in os.listdir(os.path.join(zone, "day=d2"))
    )


def test_file_skip_report_same_universe_both_serving_modes(
    spark, tmp_path, target
):
    """ADVICE r13: the footer-glob fallback used to include parquet
    files under _change_data while the manifest-served branch excluded
    them — the same call must report the same DATA-file set (and the
    same list ORDER) regardless of sidecar coverage."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _SNAPSHOT_META,
        _resolve_data_dir,
        file_skip_report,
        history_file_stats,
    )

    path = str(tmp_path / "tbl")
    merge_upsert(spark, path, target, keys=["k"])
    merge_upsert(
        spark, path, _frame(spark, [(2, "d1", 20.0)]), keys=["k"],
        emit_cdf=True,
    )
    vdir = _resolve_data_dir(path)
    assert os.path.isdir(os.path.join(vdir, "_change_data"))

    bounds = {"v": (0.0, 100.0)}
    rep_m = file_skip_report(vdir, bounds)
    stats_m = history_file_stats(path, ["v"])
    sidecar = os.path.join(vdir, _SNAPSHOT_META)
    os.rename(sidecar, sidecar + ".hidden")
    try:
        rep_f = file_skip_report(vdir, bounds)
        stats_f = history_file_stats(path, ["v"])
    finally:
        os.rename(sidecar + ".hidden", sidecar)
    # identical file UNIVERSE and identical LIST ORDER in both modes —
    # no _change_data rows in either
    assert [r["path"] for r in rep_m] == [r["path"] for r in rep_f]
    assert [s["path"] for s in stats_m] == [s["path"] for s in stats_f]
    assert not any("_change_data" in r["path"] for r in rep_f)
    paths_m = [r["path"] for r in rep_m]
    assert paths_m == sorted(paths_m), "report must be relpath-sorted"


def test_snapshot_meta_cache_keyed_on_content_not_just_stat(tmp_path):
    """ADVICE r13: on coarse-mtime filesystems a table recreated at the
    same path within one tick with a same-size sidecar must NOT be
    served the previous table's cached census — the cache key includes
    the sidecar's head bytes (which lead with a per-write
    manifest_id)."""
    import json
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _SNAPSHOT_META,
        _load_snapshot_meta,
    )

    vdir = str(tmp_path / "v_000001_aaaaaaaa")
    os.makedirs(vdir)
    p = os.path.join(vdir, _SNAPSHOT_META)

    def write_meta(manifest_id, spec):
        meta = {
            "manifest_id": manifest_id,
            "partition_spec": spec,
            "layouts": None,
            "file_stats": {},
        }
        with open(p, "w", encoding="utf-8") as f:
            json.dump(meta, f)

    write_meta("a" * 32, ["day"])
    st = os.stat(p)
    first = _load_snapshot_meta(vdir)
    assert first["partition_spec"] == ["day"]

    # simulate recreate-within-one-mtime-tick: same path, same SIZE,
    # same forced mtime — only the content (manifest_id + spec) differs
    write_meta("b" * 32, ["typ"])
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(p).st_size == st.st_size
    again = _load_snapshot_meta(vdir)
    assert again["partition_spec"] == ["typ"], (
        "stale cached manifest served after same-stat recreate"
    )


def test_read_table_layout_emptiness_from_census_no_walk(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13: read_table on a spec-evolved snapshot must derive
    per-layout emptiness from the snapshot's already-loaded census —
    not an O(#table-files) os.walk per read. The walk remains only as
    the fallback for a sidecar without a census."""
    import json
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators import writers

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    writers.merge_upsert(
        spark, path,
        spark.createDataFrame([(1, "d1", "view", 1.0)], schema),
        keys=keys, partition_col="day", keep_versions=5,
    )
    writers.evolve_partition_spec(spark, path, ["day", "typ"])

    def boom(_lay_dir):
        raise AssertionError(
            "census-served read_table must not walk layout dirs"
        )

    monkeypatch.setattr(writers, "_layout_has_data", boom)
    got = sorted(
        tuple(r)
        for r in writers.read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got == [(1, "d1", "view", 1.0)]

    # sidecar WITHOUT a census (hand-edited / future variant): falls
    # back to the walk — restore the real function and strip file_stats
    monkeypatch.undo()
    vdir = writers._resolve_data_dir(path)
    p = os.path.join(vdir, writers._SNAPSHOT_META)
    meta = json.load(open(p))
    del meta["file_stats"]
    with open(p, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    writers._parse_snapshot_meta.cache_clear()
    got2 = sorted(
        tuple(r)
        for r in writers.read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got2 == [(1, "d1", "view", 1.0)]


def test_drop_partition_field_rollback_lifecycle(spark, tmp_path):
    """VERDICT r13 item 2: spec ROLLBACK — evolve day -> (day, typ) ->
    day leaves THREE layouts where the first and third share a spec;
    merges route in-place updates to whichever layout holds the key
    and new keys to the rolled-back active layout; reads and time
    travel resolve the whole history."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        drop_partition_field,
        evolve_partition_spec,
        merge_upsert,
        read_table,
        snapshot_partition_spec,
    )

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")

    pre = [(1, "d1", "view", 1.0), (2, "d2", "click", 2.0)]
    merge_upsert(
        spark, path, spark.createDataFrame(pre, schema),
        keys=keys, partition_col="day", keep_versions=10,
    )
    evolve_partition_spec(spark, path, ["day", "typ"], keep_versions=10)
    mid = [(3, "d3", "view", 3.0)]
    merge_upsert(
        spark, path, spark.createDataFrame(mid, schema),
        keys=keys, keep_versions=10,
    )

    # ROLLBACK: drop typ -> active spec equals layout_000's
    got_spec = drop_partition_field(spark, path, "typ", keep_versions=10)
    assert got_spec == ["day"]
    spec, lays = snapshot_partition_spec(path)
    assert spec == ["day"]
    assert [la["partition_cols"] for la in lays] == [
        ["day"], ["day", "typ"], ["day"]
    ]

    # merge ACROSS the rollback boundary: update a layout_000 row, a
    # layout_001 row, and insert a new key
    batch = [
        (2, "d2", "click", 20.0),   # in-place update, layout_000
        (3, "d3", "view", 30.0),    # in-place update, layout_001
        (4, "d4", "view", 4.0),     # new key -> layout_002 (spec [day])
    ]
    merge_upsert(
        spark, path, spark.createDataFrame(batch, schema),
        keys=keys, keep_versions=10,
    )
    want = [
        (1, "d1", "view", 1.0), (2, "d2", "click", 20.0),
        (3, "d3", "view", 30.0), (4, "d4", "view", 4.0),
    ]
    got = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got == want

    # routing: each row lives in exactly the layout its key pins
    vdir = _resolve_data_dir(path)
    lay = {
        i: sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(vdir, f"layout_00{i}")
            ).select("id", "day", "typ", "v").collect()
        )
        for i in range(3)
    }
    assert lay[0] == want[:2]
    assert lay[1] == [want[2]]
    assert lay[2] == [want[3]]
    # the new key landed under the ROLLED-BACK spec: day dir, no typ dir
    assert os.path.isdir(os.path.join(vdir, "layout_002", "day=d4"))
    assert not os.path.isdir(
        os.path.join(vdir, "layout_002", "day=d4", "typ=view")
    )

    # dropping a column not in the active spec raises loudly
    with pytest.raises(ValueError, match="not in the active partition"):
        drop_partition_field(spark, path, "typ")

    # rollback to the EMPTY spec (unpartitioned active layout)
    assert drop_partition_field(spark, path, "day", keep_versions=10) == []
    merge_upsert(
        spark, path,
        spark.createDataFrame([(5, "d5", "view", 5.0)], schema),
        keys=keys, keep_versions=10,
    )
    got2 = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got2 == want + [(5, "d5", "view", 5.0)]


def test_census_spec_evolved_read(spark, tmp_path, monkeypatch):
    """Inline census + spec-evolved snapshot: layout emptiness comes
    from the census (one metadata read) and the per-layout pruned union
    still equals the unpruned read."""
    import json
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators import writers

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    pre = [(i, f"d{i % 3}", "view" if i % 2 else "click", float(i))
           for i in range(12)]
    writers.merge_upsert(
        spark, path, spark.createDataFrame(pre, schema),
        keys=keys, partition_col="day", keep_versions=5,
    )
    writers.evolve_partition_spec(spark, path, ["day", "typ"],
                                  keep_versions=5)
    batch = [(20, "d9", "view", 20.0), (1, "d1", "view", 100.0)]
    writers.merge_upsert(
        spark, path, spark.createDataFrame(batch, schema),
        keys=keys, keep_versions=5,
    )
    vdir = writers._resolve_data_dir(path)
    meta = json.load(open(os.path.join(vdir, writers._SNAPSHOT_META)))
    assert {r.split(os.sep, 1)[0] for r in meta["file_stats"]} == {
        "layout_000", "layout_001"
    }

    # census-served emptiness: no walk needed
    def boom(_d):
        raise AssertionError("evolved read must not walk layouts")

    monkeypatch.setattr(writers, "_layout_has_data", boom)
    want = sorted(
        [(i, d, t, 100.0 if i == 1 else v) for i, d, t, v in pre]
        + [(20, "d9", "view", 20.0)]
    )
    got = sorted(
        tuple(r)
        for r in writers.read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got == want

    # pruned evolved read == filter
    pruned = writers.read_table_skipping(spark, path, {"v": (3.0, 9.0)})
    got2 = sorted(
        tuple(r)
        for r in pruned.filter(F.col("v").between(3.0, 9.0))
        .select("id", "day", "typ", "v").collect()
    )
    assert got2 == [t for t in want if 3.0 <= t[3] <= 9.0]


def test_multiprocess_writer_contention_linearizes(spark, tmp_path):
    """VERDICT r13 item 7: the table write lock is load-bearing for the
    100 TB story but was proven only in-process. Two OS PROCESSES (own
    SparkSessions) race merge_upsert on one table, then
    merge_upsert on a spec-evolved table, retrying on
    ConcurrentWriteError (the documented client protocol). Proofs:
    (a) no lost update — every batch's effect is in the final state;
    (b) a reader polling MID-RACE always sees a complete committed
    snapshot (commit grain: row count stays ≡ 0 mod batch size);
    (c) in-place updates still route to the historical layout under
    contention."""
    import os
    import subprocess
    import sys
    import time

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _CURRENT_PTR,
        _resolve_data_dir,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = os.path.join(repo, "tests", "helpers", "contention_worker.py")
    path_a = str(tmp_path / "tbl_plain")
    path_b = str(tmp_path / "tbl_evolved")
    n_batches = 3

    # seed the evolved table's HISTORY: 10 rows in one day leaf (keys
    # 0 and 1 are the workers' in-place update targets), then evolve
    schema = "k bigint, day string, typ string, v double"
    seed = [(j, "h0", "click", 0.0) for j in range(10)]
    merge_upsert(
        spark, path_b, spark.createDataFrame(seed, schema),
        keys=["k", "day", "typ"], partition_col="day", keep_versions=20,
    )
    evolve_partition_spec(spark, path_b, ["day", "typ"], keep_versions=20)

    procs = [
        subprocess.Popen(
            [sys.executable, worker, path_a, path_b, str(wid),
             str(n_batches), repo],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for wid in (0, 1)
    ]
    # reader mid-race: every successful resolve must be a COMPLETE
    # committed snapshot — counts stay multiples of 10 (each commit
    # inserts exactly 10 fresh keys; in-place updates add none)
    reads = 0
    while any(p.poll() is None for p in procs):
        for path in (path_a, path_b):
            if os.path.isfile(os.path.join(path, _CURRENT_PTR)):
                n = read_table(spark, path).count()
                assert n % 10 == 0, (
                    f"reader saw a partial snapshot: {n} rows in {path}"
                )
                reads += 1
        time.sleep(0.3)
    outs = [p.communicate() for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err.decode()[-2000:]
    assert reads > 0, "race too short: reader never sampled mid-race"

    # (a) no lost update, plain table: all 2x3x10 keys, values = batch
    rows_a = {
        r.k: r.v for r in read_table(spark, path_a).collect()
    }
    want_a = {
        wid * 100000 + b * 10 + j: float(b)
        for wid in (0, 1) for b in range(n_batches) for j in range(10)
    }
    assert rows_a == want_a

    # evolved table: seed 10 + 60 inserts; the two historical keys
    # carry the LAST batch's in-place re-price
    df_b = read_table(spark, path_b)
    assert df_b.count() == 70
    got_hist = {
        r.k: r.v
        for r in df_b.filter(F.col("k").isin(0, 1)).collect()
    }
    assert got_hist == {0: 100.0 + (n_batches - 1),
                        1: 100.0 + (n_batches - 1)}
    # (c) in-place updates stayed in the historical layout
    import os as _os

    vdir = _resolve_data_dir(path_b)
    lay0 = spark.read.parquet(_os.path.join(vdir, "layout_000"))
    hist0 = {r.k: r.v for r in lay0.filter(F.col("k").isin(0, 1)).collect()}
    assert hist0 == got_hist


def test_delete_rows_evolved_per_layout(spark, tmp_path):
    """Subject deletion across a spec-evolved table: each layout
    of the snapshot's layout map rewrites WITHOUT its
    matching rows under its own spec, untouched leaves hardlink
    through, a fully-deleted leaf disappears (and must NOT be
    re-linked by the untouched-leaf carry), and time travel still
    shows the pre-delete state inside retention."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
        delete_rows,
        evolve_partition_spec,
        merge_upsert,
        read_table,
        table_versions,
    )

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    pre = [
        (1, "d1", "view", 1.0), (2, "d1", "click", 2.0),
        (3, "d2", "view", 3.0), (4, "d3", "view", 4.0),
    ]
    merge_upsert(
        spark, path, spark.createDataFrame(pre, schema),
        keys=keys, partition_col="day", keep_versions=10,
    )
    evolve_partition_spec(spark, path, ["day", "typ"], keep_versions=10)
    post = [(5, "d4", "view", 5.0), (6, "d4", "click", 6.0)]
    merge_upsert(
        spark, path, spark.createDataFrame(post, schema),
        keys=keys, keep_versions=10,
    )
    v1_dir = _resolve_data_dir(path)
    f_d2 = _one_parquet(os.path.join(v1_dir, "layout_000", "day=d2"))

    # delete: all of d1 in layout_000 (leaf d1 fully emptied), the
    # view row of d4 in layout_001 (leaf partially emptied), nothing
    # in d2/d3 (hardlinked through)
    n = delete_rows(
        spark, path, "v IN (1.0, 2.0, 5.0)", keep_versions=10
    )
    assert n == 3
    want = [(3, "d2", "view", 3.0), (4, "d3", "view", 4.0),
            (6, "d4", "click", 6.0)]
    got = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got == want

    v2_dir = _resolve_data_dir(path)
    # fully-deleted leaf is GONE, not re-linked
    assert not os.path.isdir(os.path.join(v2_dir, "layout_000", "day=d1"))
    # partially-deleted evolved leaf: click survives, view leaf gone
    assert not os.path.isdir(
        os.path.join(v2_dir, "layout_001", "day=d4", "typ=view")
    )
    assert os.path.isdir(
        os.path.join(v2_dir, "layout_001", "day=d4", "typ=click")
    )
    # untouched leaf carried as the SAME inode
    f_d2_new = _one_parquet(os.path.join(v2_dir, "layout_000", "day=d2"))
    assert os.stat(f_d2_new).st_ino == os.stat(f_d2).st_ino

    # pre-delete state still time-travelable inside retention
    vs = table_versions(path)
    before = read_table(spark, path, version=vs[-2])
    assert before.count() == 6

    # deleting everything a layout holds leaves it empty but readable
    n2 = delete_rows(spark, path, "day = 'd4'", keep_versions=10)
    assert n2 == 1
    got2 = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got2 == want[:2]


def test_compact_parquet_evolved_per_leaf(spark, tmp_path):
    """Per-layout compaction of a spec-evolved table: fragmented
    leaves compact under their own
    layout's spec, already-compact leaves hardlink through unread,
    rows/values/partitioning are preserved, and the layout map carries
    forward so reads keep working."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _leaf_dirs,
        _resolve_data_dir,
        compact_parquet,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    pre = [(i, f"d{i % 2}", "view", float(i)) for i in range(40)]
    # fragment the first layout: the merge's internal dropDuplicates
    # reshuffles, and AQE would coalesce tiny data to one task — scope
    # it off so ~8 tasks each write a file into both leaves
    prev_coal = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        merge_upsert(
            spark, path, spark.createDataFrame(pre, schema),
            keys=keys, partition_col="day", keep_versions=10,
        )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coal
        )
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    evolve_partition_spec(spark, path, ["day", "typ"], keep_versions=10)
    post = [(100 + i, "d9", "view" if i % 2 else "click", float(i))
            for i in range(6)]
    merge_upsert(
        spark, path, spark.createDataFrame(post, schema).coalesce(1),
        keys=keys, keep_versions=10,
    )
    v1 = _resolve_data_dir(path)

    def files_per_leaf(vdir, lay):
        root = os.path.join(vdir, lay)
        return {
            leaf: sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(root, leaf))
            )
            for leaf in _leaf_dirs(root)
        }

    before0 = files_per_leaf(v1, "layout_000")
    assert max(before0.values()) >= 4, "fixture must be fragmented"
    before1 = files_per_leaf(v1, "layout_001")
    assert set(before1.values()) == {1}, "evolved leaves already compact"
    f_keep = _one_parquet(os.path.join(v1, "layout_001", "day=d9",
                                       "typ=click"))
    want = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )

    n_out = compact_parquet(spark, path)
    v2 = _resolve_data_dir(path)
    after0 = files_per_leaf(v2, "layout_000")
    assert set(after0.values()) == {1}, f"not compacted: {after0}"
    assert n_out == len(after0) + len(before1)
    # already-compact leaf carried as the SAME inode (unread)
    f2 = _one_parquet(os.path.join(v2, "layout_001", "day=d9",
                                   "typ=click"))
    assert os.stat(f2).st_ino == os.stat(f_keep).st_ino
    # values + partitioning preserved, reads still resolve the map
    got = sorted(
        tuple(r)
        for r in read_table(spark, path)
        .select("id", "day", "typ", "v").collect()
    )
    assert got == want
    # a later evolved merge still works on the compacted snapshot
    merge_upsert(
        spark, path,
        spark.createDataFrame([(999, "d9", "view", 9.9)], schema),
        keys=keys, keep_versions=10,
    )
    assert read_table(spark, path).count() == len(want) + 1


def test_census_type_tags_roundtrip_exotic_types(spark, tmp_path):
    """The census stores min/max as type-tagged JSON in the sidecar —
    date/timestamp/decimal/binary stats must round-trip exactly through
    that encoding, serve value-identical to the footer walk, and drive
    correct skip decisions on a non-numeric (date) bound."""
    import datetime
    import decimal
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _SNAPSHOT_META,
        _resolve_data_dir,
        history_file_stats,
        merge_upsert,
        read_table_skipping,
    )

    rows = [
        (
            i,
            f"d{i // 4}",
            datetime.date(2024, 1, 1 + i),
            datetime.datetime(2024, 1, 1, i, 0, 0),
            datetime.datetime(2024, 1, 1, i, 30, 0),
            decimal.Decimal(f"{i}.2500"),
            float(i),
            f"s{i:03d}",
            bytes([i, 255 - i]),
        )
        for i in range(16)
    ]
    schema = (
        "k bigint, day string, d date, ts timestamp, tsn timestamp_ntz, "
        "dec decimal(20,4), v double, s string, b binary"
    )
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path, spark.createDataFrame(rows, schema),
        keys=["k", "day"], partition_col="day", keep_versions=5,
    )
    vdir = _resolve_data_dir(path)
    import json

    meta = json.load(open(os.path.join(vdir, _SNAPSHOT_META)))
    assert len(meta["file_stats"]) >= 4

    cols = ["d", "ts", "tsn", "dec", "v", "s", "b"]
    from_census = history_file_stats(path, cols)
    sidecar = os.path.join(vdir, _SNAPSHOT_META)
    os.rename(sidecar, sidecar + ".hidden")
    try:
        from_footers = history_file_stats(path, cols)
    finally:
        os.rename(sidecar + ".hidden", sidecar)
    assert [
        (e["path"], e["n_rows"], e["mins"], e["maxs"])
        for e in from_census
    ] == [
        (e["path"], e["n_rows"], e["mins"], e["maxs"])
        for e in from_footers
    ], "tagged values must round-trip exactly through the census"
    # types survived (not stringified); ts is None in BOTH modes when
    # Spark writes INT96 (no footer min/max — the conservative
    # must-scan value), which the equality above already pins
    first = from_census[0]["mins"]
    assert isinstance(first["d"], datetime.date)
    assert first["tsn"] == datetime.datetime(2024, 1, 1, 0, 30, 0)
    assert first["dec"] == decimal.Decimal("0.2500")
    assert isinstance(first["dec"], decimal.Decimal)
    assert isinstance(first["b"], bytes)

    # DATE bound through the census decide: day=d0 holds Jan 1-4,
    # so a Jan 9-12 band must skip it and keep day=d2 exactly
    pruned = read_table_skipping(
        spark, path,
        {"d": (datetime.date(2024, 1, 9), datetime.date(2024, 1, 12))},
    )
    got = sorted(
        r.k for r in pruned.filter(
            F.col("d").between("2024-01-09", "2024-01-12")
        ).collect()
    )
    assert got == [8, 9, 10, 11]


def test_delete_semantics_null_predicate_rows_kept(spark, tmp_path):
    """Code-review r14: SQL DELETE semantics — a NULL-valued predicate
    keeps its row on a flat and on a spec-evolved table alike (plain
    NOT(pred) silently dropped such rows, uncounted, and only in leaves
    that also held a true match)."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        delete_rows,
        evolve_partition_spec,
        merge_upsert,
        read_table,
    )

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]

    # flat table
    path1 = str(tmp_path / "flat")
    rows = [(1, "d1", "view", 1.0), (2, "d1", "view", None),
            (3, "d2", "view", 3.0)]
    merge_upsert(spark, path1, spark.createDataFrame(rows, schema),
                 keys=keys, keep_versions=5)
    n = delete_rows(spark, path1, "v > 2.0")
    assert n == 1
    got = sorted(
        (r.id, r.v) for r in read_table(spark, path1).collect()
    )
    assert got == [(1, 1.0), (2, None)], "NULL-predicate row must stay"

    # evolved table: the NULL row shares a leaf with a true match
    path2 = str(tmp_path / "evo")
    merge_upsert(spark, path2, spark.createDataFrame(rows, schema),
                 keys=keys, partition_col="day", keep_versions=5)
    evolve_partition_spec(spark, path2, ["day", "typ"], keep_versions=5)
    n2 = delete_rows(spark, path2, "v < 2.0")
    assert n2 == 1
    got2 = sorted(
        (r.id, r.v) for r in read_table(spark, path2).collect()
    )
    assert got2 == [(2, None), (3, 3.0)], (
        "NULL-predicate row in a matched leaf must survive the rewrite"
    )


def test_layout_all_layouts_excluded_returns_empty(spark, tmp_path):
    """Bounds disjoint from EVERY file of every layout: no layout
    survives, zero data files are scanned, and the read returns an
    empty frame with the table schema."""
    from etl_end_to_end_airflow_bigquery_spark.operators import writers

    schema = "id bigint, day string, typ string, v double"
    keys = ["id", "day", "typ"]
    path = str(tmp_path / "tbl")
    pre = [(i, f"d{i % 3}", "view", float(i)) for i in range(12)]
    writers.merge_upsert(
        spark, path, spark.createDataFrame(pre, schema),
        keys=keys, partition_col="day", keep_versions=5,
    )
    writers.evolve_partition_spec(spark, path, ["day", "typ"],
                                  keep_versions=5)
    writers.merge_upsert(
        spark, path,
        spark.createDataFrame([(20, "d9", "view", 500.0)], schema),
        keys=keys, keep_versions=5,
    )
    out = writers.read_table_skipping(spark, path, {"v": (2000.0, 3000.0)})
    assert out.count() == 0
    assert set(out.columns) == {"id", "day", "typ", "v"}


def test_old_format_census_snapshot_reads(spark, tmp_path):
    """A snapshot committed when large censuses were stored as parquet
    shards: its sidecar has ``census_shards`` and no ``file_stats``,
    and a shard file sits under ``v_*/_manifest``. Readers take the
    footer walk and count only the data files — never the shard."""
    import hashlib
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        history_file_stats,
        read_table_skipping,
    )

    rows = [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 300.0)]
    path = str(tmp_path / "old")
    vname = "v_000001_0ld0f0rm"
    vdir = os.path.join(path, vname)
    _frame(spark, rows).coalesce(1).write.partitionBy("day").parquet(vdir)
    data = sorted(
        os.path.relpath(os.path.join(root, f), vdir)
        for root, _d, files in os.walk(vdir)
        for f in files
        if f.endswith(".parquet")
    )
    assert len(data) == 2
    mdir = os.path.join(vdir, "_manifest")
    os.makedirs(mdir)
    pq.write_table(
        pa.table({
            "rel": data,
            "n_rows": [2, 1],
            "ino": [0, 0],
            "bytes": [0, 0],
            "mins": ['{"v": {"t": "f", "v": 1.0}}'] * 2,
            "maxs": ['{"v": {"t": "f", "v": 300.0}}'] * 2,
        }),
        os.path.join(mdir, "census-00000.parquet"),
    )
    with open(os.path.join(vdir, "_snapshot_meta.json"), "w") as f:
        json.dump({
            "manifest_id": "0" * 32,
            "partition_spec": ["day"],
            "layouts": None,
            "manifest_shard_files": 1,
            "partition_types": {"day": "string"},
            "census_shards": 1,
            "census_files": 2,
            "census_digest": hashlib.sha256(
                "\n".join(data).encode("utf-8")
            ).hexdigest(),
            "census_dirs": ["day=d1", "day=d2"],
        }, f)
    with open(os.path.join(path, "_COMMITS"), "w") as f:
        f.write(vname + "\n")
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write(vname)

    assert _sorted(read_table(spark, path).select("k", "day", "v")) == rows
    stats = history_file_stats(path, ["v"])
    assert [s["path"] for s in stats] == [
        os.path.join(vdir, r) for r in data
    ]
    assert [s["n_rows"] for s in stats] == [2, 1]
    # planning uses the footers' tight bounds, not the shard's wide
    # ones, so the day=d1 file is skipped
    pruned = read_table_skipping(spark, path, {"v": (100.0, 400.0)})
    assert _sorted(pruned.select("k", "day", "v")) == [(3, "d2", 300.0)]
    everything = read_table_skipping(spark, path, {"v": (0.0, 1e9)})
    assert _sorted(everything.select("k", "day", "v")) == rows


def test_cdf_compact_before_zero_squashes_everything(spark, tmp_path):
    """cdf_compact_before=0: every preserved feed squashes into the net
    archive (no granular tail), and the full-feed fold still matches."""
    import os

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        expire_versions,
        merge_upsert,
        read_table_changes,
    )

    schema = "k int, v double"
    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    merge_upsert(spark, path, batch([(1, 1.0), (2, 2.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)
    merge_upsert(spark, path, batch([(1, 10.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)
    merge_upsert(spark, path, batch([(3, 3.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)
    expire_versions(
        path, keep_last=1, cdf_keep_last=3, cdf_compact_before=0,
        cdf_squash_keys=["k"], spark=spark,
    )
    entries = sorted(os.listdir(os.path.join(path, "_cdf")))
    assert entries == ["net_000001_000002"]
    # readable range: net (c1-2) + live (c3); fold lands on final state
    feed = read_table_changes(spark, path)
    w = F.when(
        F.col("_change_type").isin("update_preimage", "delete"), -1
    ).otherwise(1)
    tot = feed.withColumn("w", w).agg(
        F.sum(F.col("w") * F.col("v")).alias("s")
    ).first().s
    assert abs(tot - (10.0 + 2.0 + 3.0)) < 1e-9


_SPEC_ROWS = [
    (k, f"d{k % 3}", "ab"[k % 2], float(k)) for k in range(9)
]


def _spec_case_flat_then_partition_col(spark, path, model):
    merge_upsert(spark, path, _spec_batch(spark, _SPEC_ROWS), keys=["k"])
    with pytest.raises(ValueError, match="evolve_partition_spec"):
        merge_upsert(
            spark, path, _spec_batch(spark, [(1, "d1", "b", 10.0)]),
            keys=["k", "day"], partition_col="day",
        )


def _spec_case_plain_then_scoped(spark, path, model):
    keys = ["k", "day"]
    merge_upsert(
        spark, path, _spec_batch(spark, _SPEC_ROWS), keys=keys,
        partition_col="day",
    )
    merge_upsert(spark, path, _spec_batch(spark, [(1, "d1", "b", 10.0)]),
                 keys=keys)
    merge_upsert(
        spark, path, _spec_batch(spark, [(2, "d2", "a", 20.0)]), keys=keys,
        partition_col="day",
    )
    model.update({1: (1, "d1", "b", 10.0), 2: (2, "d2", "a", 20.0)})


def _spec_case_day_table_typ_col(spark, path, model):
    keys = ["k", "day", "typ"]
    merge_upsert(
        spark, path, _spec_batch(spark, _SPEC_ROWS), keys=keys,
        partition_col="day",
    )
    with pytest.raises(ValueError, match="evolve_partition_spec"):
        merge_upsert(
            spark, path, _spec_batch(spark, [(1, "d1", "b", 10.0)]),
            keys=keys, partition_col="typ",
        )


def _spec_case_partition_col_not_a_key(spark, path, model):
    with pytest.raises(ValueError, match="must be merge keys"):
        merge_upsert(
            spark, path, _spec_batch(spark, _SPEC_ROWS), keys=["k"],
            partition_col="day",
        )
    model.clear()


def _spec_batch(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, day string, typ string, v double"
    )


@pytest.mark.parametrize("case", [
    _spec_case_flat_then_partition_col,
    _spec_case_plain_then_scoped,
    _spec_case_day_table_typ_col,
    _spec_case_partition_col_not_a_key,
], ids=lambda f: f.__name__[len("_spec_case_"):])
def test_merge_follows_recorded_partition_spec(spark, tmp_path, case):
    """The snapshot's recorded spec, not the call's ``partition_col``,
    decides how a merge rewrites a table: a mismatching partition_col
    raises and leaves the table as it was, an omitted one follows the
    recorded spec, and a partition column must be a merge key. Every
    case ends equal to a Python model of the table."""
    import os

    path = str(tmp_path / "tbl")
    model = {r[0]: r for r in _SPEC_ROWS}
    case(spark, path, model)
    if not model:
        from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
            table_versions,
        )

        assert table_versions(path) == [] and not any(
            e.startswith("v_") for e in os.listdir(path)
        )
        return
    got = read_table(spark, path).select("k", "day", "typ", "v")
    assert _sorted(got) == sorted(model.values())


@pytest.mark.parametrize("op", ["merge", "delete"])
def test_null_partition_value_merge_and_delete(spark, tmp_path, op):
    """A NULL partition value lands in hive's default partition; the
    scoped read must match it (null-safe), or the rewrite that replaces
    its leaf drops the leaf's other rows — for merge and for delete."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        delete_rows,
    )

    schema = "k bigint, day string, v double"
    keys = ["k", "day"]
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path,
        spark.createDataFrame(
            [(1, None, 1.0), (3, None, 3.0), (2, "d1", 2.0)], schema
        ),
        keys=keys, partition_col="day",
    )
    if op == "merge":
        merge_upsert(
            spark, path, spark.createDataFrame([(1, None, 10.0)], schema),
            keys=keys, partition_col="day",
        )
        want = [(1, None, 10.0), (2, "d1", 2.0), (3, None, 3.0)]
    else:
        assert delete_rows(spark, path, "k = 1") == 1
        want = [(2, "d1", 2.0), (3, None, 3.0)]
    got = read_table(spark, path).select("k", "day", "v").collect()
    assert sorted(tuple(r) for r in got) == want


def test_partition_values_keep_their_written_type(spark, tmp_path):
    """Partition columns read back with the type they were written
    with, not the type hive directory-value inference guesses: a
    numeric-looking string stays a string (and a later merge of its
    key updates instead of duplicating it), after delete and compaction
    too; a bigint column added to the spec by evolution stays bigint."""
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        compact_parquet,
        delete_rows,
        evolve_partition_spec,
    )

    schema = "k bigint, p string, v double"
    path = str(tmp_path / "str")
    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, "007", 1.0), (2, "010", 2.0)], schema),
        keys=["k", "p"], partition_col="p",
    )
    merge_upsert(
        spark, path, spark.createDataFrame([(1, "007", 5.0)], schema),
        keys=["k", "p"], partition_col="p",
    )
    for op in (
        lambda: None,
        lambda: delete_rows(spark, path, "k = 9"),
        lambda: compact_parquet(spark, path),
    ):
        op()
        got = read_table(spark, path)
        assert dict(got.dtypes)["p"] == "string"
        assert sorted(tuple(r) for r in got.select("k", "p", "v").collect()) == [
            (1, "007", 5.0), (2, "010", 2.0)
        ]

    path = str(tmp_path / "evolved")
    schema = "k bigint, day string, v double"
    merge_upsert(
        spark, path,
        spark.createDataFrame([(1, "d1", 1.0), (2, "d2", 2.0)], schema),
        keys=["k", "day"], partition_col="day",
    )
    evolve_partition_spec(spark, path, ["day", "k"])
    merge_upsert(
        spark, path,
        spark.createDataFrame([(3, "d1", 3.0), (1, "d1", 10.0)], schema),
        keys=["k", "day"],
    )
    got = read_table(spark, path)
    assert dict(got.dtypes)["k"] == "bigint"
    assert sorted(tuple(r) for r in got.select("k", "day", "v").collect()) == [
        (1, "d1", 10.0), (2, "d2", 2.0), (3, "d1", 3.0)
    ]
