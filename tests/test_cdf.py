"""MERGE change-data-feed emission (VERDICT r10 item 2): the feed a
merge induces must be the EXACT signed delta between the old and new
table state — the producer side of the IVM retraction family.

Reference basis: the MERGE at ``dags/fx_pipeline_with_merge.py:90-103``
runs on an engine (BigQuery/Delta-class) that offers a change data feed
for exactly this statement; the emitter here is that feature rebuilt on
the sentinel-tracked full-outer merge plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
    cdf_to_signed,
    merge_avg_state,
    partial_avg_state,
    signed_partial_state,
)
from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
    CDF_DIR,
    merge_upsert,
    merge_upsert_cdf_df,
    merge_upsert_df,
    read_table,
    read_table_changes,
    table_versions,
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k int, day string, v double")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def target(spark):
    return _frame(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])


@pytest.fixture()
def source(spark):
    return _frame(spark, [(2, "d1", 20.0), (4, "d2", 40.0)])


def test_merged_output_identical_to_plain_merge(spark, target, source):
    merged, _ = merge_upsert_cdf_df(target, source, keys=["k"])
    assert _sorted(merged) == _sorted(merge_upsert_df(target, source, keys=["k"]))


def test_change_rows_are_the_exact_delta(spark, target, source):
    _, cdf = merge_upsert_cdf_df(target, source, keys=["k"], commit_version=7)
    rows = {(r.k, r._change_type): (r.day, r.v, r._commit_version) for r in cdf.collect()}
    assert rows == {
        (2, "update_preimage"): ("d1", 2.0, 7),
        (2, "update_postimage"): ("d1", 20.0, 7),
        (4, "insert"): ("d2", 40.0, 7),
    }


def test_unchanged_value_update_still_emits_pre_post(spark, target):
    # Delta's UPDATE SET * contract: matched rows emit even when every
    # value is unchanged — this is what keeps the feed self-inverse.
    source = _frame(spark, [(2, "d1", 2.0)])
    _, cdf = merge_upsert_cdf_df(target, source, keys=["k"])
    types = sorted(r._change_type for r in cdf.collect())
    assert types == ["update_postimage", "update_preimage"]


def test_delete_unmatched_target_full_sync(spark, target, source):
    merged, cdf = merge_upsert_cdf_df(
        target, source, keys=["k"], delete_unmatched_target=True
    )
    assert sorted(r.k for r in merged.collect()) == [2, 4]
    deletes = {r.k for r in cdf.filter(F.col("_change_type") == "delete").collect()}
    assert deletes == {1, 3}


def test_source_subset_columns_post_image_keeps_target_values(spark, target):
    source = spark.createDataFrame([(2, 99.0), (5, 50.0)], "k int, v double")
    merged, cdf = merge_upsert_cdf_df(target, source, keys=["k"])
    post = {r.k: (r.day, r.v) for r in
            cdf.filter(F.col("_change_type") == "update_postimage").collect()}
    assert post == {2: ("d1", 99.0)}  # day passes through from target
    ins = {r.k: (r.day, r.v) for r in
           cdf.filter(F.col("_change_type") == "insert").collect()}
    assert ins == {5: (None, 50.0)}
    assert _sorted(merged) == _sorted(
        merge_upsert_df(target, source, keys=["k"])
    )


def test_source_extra_columns_rejected(spark, target):
    source = spark.createDataFrame([(2, "x")], "k int, extra string")
    with pytest.raises(ValueError, match="not in the target schema"):
        merge_upsert_cdf_df(target, source, keys=["k"])


def test_null_key_rows_flow_the_update_path(spark):
    target = _frame(spark, [(None, "d1", 1.0), (2, "d1", 2.0)])
    source = _frame(spark, [(None, "d1", 10.0)])
    merged, cdf = merge_upsert_cdf_df(target, source, keys=["k"])
    # eqNullSafe: the NULL-keyed source row is an UPDATE, not an insert
    types = sorted(r._change_type for r in cdf.collect())
    assert types == ["update_postimage", "update_preimage"]
    assert {r.v for r in merged.collect()} == {10.0, 2.0}


def test_fold_invariant_state_plus_feed_equals_new_state(spark, target, source):
    """The load-bearing identity: state(target) ⊕ signed(feed) ==
    state(merged) — per group, exactly."""
    merged, cdf = merge_upsert_cdf_df(target, source, keys=["k"])
    before = partial_avg_state(target, ["day"], "v")
    folded = merge_avg_state(
        before,
        signed_partial_state(cdf_to_signed(cdf), ["day"], "v"),
        ["day"],
    ).filter(F.col("n") > 0)
    direct = partial_avg_state(merged, ["day"], "v")
    assert _sorted(folded) == _sorted(direct)


def test_cdf_to_signed_rejects_unknown_change_type(spark):
    bad = spark.createDataFrame(
        [(1, "truncate")], "k int, _change_type string"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        cdf_to_signed(bad).collect()


def test_versioned_writer_emits_feed_per_commit(spark, tmp_path, target, source):
    path = os.path.join(str(tmp_path), "tbl")
    merge_upsert(spark, path, target, keys=["k"], keep_versions=4, emit_cdf=True)
    merge_upsert(spark, path, source, keys=["k"], keep_versions=4, emit_cdf=True)
    v1, v2 = table_versions(path)
    feed1 = read_table_changes(spark, path, version=v1)
    assert sorted(r._change_type for r in feed1.collect()) == ["insert"] * 3
    feed2 = read_table_changes(spark, path, version=v2)
    assert {r._commit_version for r in feed2.collect()} == {v2}
    # all-versions read = union of both feeds
    assert read_table_changes(spark, path).count() == feed1.count() + feed2.count()
    # the feed dir is invisible to plain snapshot scans
    assert read_table(spark, path).columns == ["k", "day", "v"]
    # and the folded feed reproduces the stored table's state exactly
    all_signed = signed_partial_state(
        cdf_to_signed(read_table_changes(spark, path)), ["day"], "v"
    ).filter(F.col("n") > 0)
    direct = partial_avg_state(read_table(spark, path), ["day"], "v")
    assert _sorted(all_signed) == _sorted(direct)


def test_feed_missing_version_raises(spark, tmp_path, target):
    path = os.path.join(str(tmp_path), "tbl")
    merge_upsert(spark, path, target, keys=["k"])  # no feed
    with pytest.raises(ValueError, match="no change feed"):
        read_table_changes(spark, path)
    with pytest.raises(ValueError, match="no change feed"):
        read_table_changes(spark, path, version=table_versions(path)[0])


def test_feed_swept_with_its_version_by_retention(spark, tmp_path, target, source):
    path = os.path.join(str(tmp_path), "tbl")
    merge_upsert(spark, path, target, keys=["k"], keep_versions=1, emit_cdf=True)
    merge_upsert(spark, path, source, keys=["k"], keep_versions=1, emit_cdf=True)
    vs = table_versions(path)
    assert len(vs) == 1  # old snapshot (and its feed) swept
    assert read_table_changes(spark, path).count() == 3  # v2's feed only


def test_emit_cdf_partitioned_equals_flat(spark, tmp_path, target, source):
    """A partitioned table's per-layout feed is the flat table's feed:
    same rows (by name) for the same two batches."""
    feeds = []
    for name, partition_col in (("flat", None), ("part", "day")):
        path = os.path.join(str(tmp_path), name)
        for batch in (target, source):
            merge_upsert(
                spark, path, batch, keys=["k", "day"],
                partition_col=partition_col, emit_cdf=True,
            )
        feed = read_table_changes(spark, path)
        feeds.append(sorted(
            tuple(r) for r in feed.select(*sorted(feed.columns)).collect()
        ))
    assert feeds[0] == feeds[1] and len(feeds[0]) == 6


def test_squash_preserves_the_signed_fold(spark, target, source):
    """cdf_compact_net_changes telescopes: folding the COMPACTED feed
    lands on the same state as folding the full multi-commit feed —
    including a second commit that re-updates and deletes."""
    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        cdf_compact_net_changes,
    )

    m1, c1 = merge_upsert_cdf_df(target, source, keys=["k"], commit_version=1)
    batch2 = _frame(spark, [(2, "d1", 200.0), (9, "d3", 9.0)])
    m2, c2 = merge_upsert_cdf_df(m1, batch2, keys=["k"], commit_version=2)
    full = c1.unionByName(c2)
    net = cdf_compact_net_changes(full, ["k"])

    # expand the net rows back to signed pre/post rows and fold both
    def fold(signed_rows):
        return sorted(
            tuple(r)
            for r in signed_partial_state(signed_rows, ["day"], "v").filter(
                F.col("n") != 0
            ).collect()
        )

    full_fold = fold(cdf_to_signed(full).select("day", "v", "__w"))
    pre = net.filter(F.col("net_change") != "insert").select(
        F.col("first_pre.day").alias("day"),
        F.col("first_pre.v").alias("v"),
        F.lit(-1).alias("__w"),
    )
    post = net.filter(F.col("net_change") != "delete").select(
        F.col("last_post.day").alias("day"),
        F.col("last_post.v").alias("v"),
        F.lit(1).alias("__w"),
    )
    assert fold(pre.unionByName(post)) == full_fold
    # classification: k=4 entered in commit 1 (insert even though
    # commit 2 never touched it); k=2 updated twice -> ONE net update
    # with commit-1 pre and commit-2 post; k=9 entered in commit 2
    rows = {r.k: r for r in net.collect()}
    assert rows[4].net_change == "insert"
    assert rows[9].net_change == "insert" and rows[9].last_post.v == 9.0
    assert rows[2].net_change == "update"
    assert rows[2].first_pre.v == 2.0 and rows[2].last_post.v == 200.0


def test_cdf_retention_survives_vacuum_and_expires_loudly(spark, tmp_path):
    """VERDICT r13 item 5: expire_versions(cdf_keep_last=N) keeps the
    newest N feeds past their DATA snapshots' sweep (the Delta
    logRetention/VACUUM split) — an IVM consumer lagging behind VACUUM
    still folds exact deltas; one lagging past FEED retention gets a
    loud EXPIRED error, never a silently incomplete range."""
    import os

    import pytest

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        CDF_VERSION,
        expire_versions,
        merge_upsert,
        read_table,
        read_table_changes,
        table_versions,
    )

    schema = "k int, v double"
    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    merge_upsert(spark, path, batch([(1, 1.0), (2, 2.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c1
    merge_upsert(spark, path, batch([(2, 20.0), (3, 3.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c2
    merge_upsert(spark, path, batch([(3, 30.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c3
    merge_upsert(spark, path, batch([(4, 4.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c4

    all_rows = read_table_changes(spark, path).count()
    swept = expire_versions(path, keep_last=1, cdf_keep_last=3)
    assert swept == [1, 2, 3]
    assert table_versions(path) == [4]

    # feeds 2..4 readable: 2,3 preserved under _cdf, 4 live in current
    assert os.path.isdir(os.path.join(path, "_cdf"))
    feed = read_table_changes(spark, path)
    vers = sorted(
        r[0] for r in feed.select(CDF_VERSION).distinct().collect()
    )
    assert vers == [2, 3, 4]
    assert feed.count() < all_rows  # c1's insert feed is gone
    # per-version reads: preserved and live both work
    assert read_table_changes(spark, path, version=2).count() == 3
    assert read_table_changes(spark, path, version=4).count() == 1

    # lagging past FEED retention: loud EXPIRED error
    with pytest.raises(ValueError, match="EXPIRED"):
        read_table_changes(spark, path, version=1)

    # the data table itself is intact
    got = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert got == [(1, 1.0), (2, 20.0), (3, 30.0), (4, 4.0)]

    # tightening feed retention prunes preserved feeds
    expire_versions(path, keep_last=1, cdf_keep_last=1)
    with pytest.raises(ValueError, match="EXPIRED"):
        read_table_changes(spark, path, version=2)
    assert read_table_changes(spark, path, version=4).count() == 1

    # a commit that never emitted a feed reads as 'no change feed',
    # not EXPIRED
    merge_upsert(spark, path, batch([(5, 5.0)]),
                 keys=["k"], keep_versions=10)                    # c5
    with pytest.raises(ValueError, match="no change feed"):
        read_table_changes(spark, path, version=5)


def test_preserved_feed_shadow_tolerated_and_pruned(spark, tmp_path):
    """ADVICE r14: a stale preserved copy under _cdf/<vname> (crash
    leftover / hand-restore) must not abort the VACUUM's os.replace —
    the live copy being moved is authoritative — and a preserved copy
    SHADOWED by a live feed of the same commit must be pruned by the
    direct pres_root listing (the live-wins _feed_dirs map hides it)."""
    import os
    import shutil

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        expire_versions,
        merge_upsert,
        read_table_changes,
    )

    schema = "k int, v double"
    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    merge_upsert(spark, path, batch([(1, 1.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)                 # c1
    merge_upsert(spark, path, batch([(1, 2.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)                 # c2
    merge_upsert(spark, path, batch([(2, 3.0)]), keys=["k"],
                 keep_versions=10, emit_cdf=True)                 # c3

    # plant a STALE preserved copy for c2 (junk content) while c2's
    # real feed is still live in its snapshot
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _committed_versions,
        _seq_of,
    )

    names = {_seq_of(d): d for d in _committed_versions(path)}
    pres = os.path.join(path, "_cdf", names[2])
    os.makedirs(pres)
    open(os.path.join(pres, "junk.txt"), "w").write("stale")

    # VACUUM preserving feeds 2,3: the c2 move hits the existing dir —
    # must replace it with the authoritative live copy, not raise
    expire_versions(path, keep_last=1, cdf_keep_last=2)
    feed2 = read_table_changes(spark, path, version=2)
    rows = sorted((r.k, r.v, r._change_type) for r in feed2.collect())
    assert rows == [
        (1, 1.0, "update_preimage"), (1, 2.0, "update_postimage")
    ], "stale preserved shadow won over the authoritative live feed"
    assert not os.path.exists(os.path.join(pres, "junk.txt"))

    # shadow of a RETAINED commit: plant _cdf/<c3> while c3 is current
    # (its feed is live) — the direct listing must prune it
    shadow = os.path.join(path, "_cdf", names[3])
    os.makedirs(shadow, exist_ok=True)
    open(os.path.join(shadow, "junk.txt"), "w").write("stale")
    expire_versions(path, keep_last=1, cdf_keep_last=2)
    assert not os.path.isdir(shadow), "shadowed preserved copy not pruned"
    assert read_table_changes(spark, path, version=3).count() == 1


def test_cdf_compaction_squashes_preserved_feeds(spark, tmp_path):
    """VERDICT r14 item 3: expire_versions(cdf_compact_before=K)
    squashes preserved feeds older than the newest K into ONE net feed
    (raw feed shape) — the IVM fold over the full readable feed lands
    on the same state as before compaction, per-version reads inside
    the squashed range raise loudly, the newest K preserved feeds keep
    per-commit granularity, live feeds in retained snapshots are
    untouched (immutability floor), and a second compaction folds the
    previous net feed instead of stacking beside it."""
    import os

    import pytest as _pytest

    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        cdf_to_signed,
        signed_partial_state,
    )
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        CDF_DIR,
        expire_versions,
        merge_upsert,
        read_table,
        read_table_changes,
    )

    schema = "k int, s string, v double"
    path = str(tmp_path / "tbl")

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    # five CDF commits with inserts, updates, a delete-then-reinsert
    merge_upsert(spark, path, batch([(1, "a", 1.0), (2, "a", 2.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c1
    merge_upsert(spark, path, batch([(2, "b", 20.0), (3, "a", 3.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c2
    merge_upsert(spark, path, batch([(1, "b", 10.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c3
    merge_upsert(spark, path, batch([(4, "c", 4.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c4
    merge_upsert(spark, path, batch([(3, "c", 30.0)]),
                 keys=["k"], keep_versions=10, emit_cdf=True)     # c5

    def fold_state():
        feed = read_table_changes(spark, path)
        st = signed_partial_state(cdf_to_signed(feed), ["s"], "v")
        return sorted(
            (r.s, r.n, r.sum_u) for r in st.filter(F.col("n") > 0).collect()
        )

    before = fold_state()

    # VACUUM to 1 snapshot, preserve all 4 swept feeds (keep_last=5
    # counts the live c5 feed too), squash all but the newest 2
    # preserved -> net feed over c1..c2
    expire_versions(
        path, keep_last=1, cdf_keep_last=5, cdf_compact_before=2,
        cdf_squash_keys=["k"], spark=spark,
    )
    pres = os.path.join(path, "_cdf")
    entries = sorted(os.listdir(pres))
    assert "net_000001_000002" in entries
    assert sum(e.startswith("v_") for e in entries) == 2  # c3, c4 granular
    # live feed of the retained current snapshot untouched
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _resolve_data_dir,
    )

    assert os.path.isdir(os.path.join(_resolve_data_dir(path), CDF_DIR))

    # fold equivalence after squash
    assert fold_state() == before
    # per-commit reads: squashed range raises loudly, granular range works
    with _pytest.raises(ValueError, match="SQUASHED"):
        read_table_changes(spark, path, version=1)
    assert read_table_changes(spark, path, version=3).count() == 2

    # second compaction with K=1 folds the net feed + c3 into c1..c3
    expire_versions(
        path, keep_last=1, cdf_keep_last=5, cdf_compact_before=1,
        cdf_squash_keys=["k"], spark=spark,
    )
    entries = sorted(os.listdir(pres))
    assert "net_000001_000003" in entries
    assert "net_000001_000002" not in entries, "previous net must fold in"
    assert fold_state() == before
    with _pytest.raises(ValueError, match="SQUASHED"):
        read_table_changes(spark, path, version=3)

    # table itself unchanged throughout
    got = sorted(tuple(r) for r in read_table(spark, path).collect())
    assert got == [(1, "b", 10.0), (2, "b", 20.0), (3, "c", 30.0),
                   (4, "c", 4.0)]


def test_cdf_squash_feed_delete_then_reinsert_is_update(spark):
    """The storage squash classifies by existence at the WINDOW EDGES,
    not by cdf_compact_net_changes' `entered` flag: a key deleted then
    re-inserted inside the window existed at both edges, so the net is
    an UPDATE — retract the pre-window image, add the final one. An
    insert-classification would leak the old image into the fold."""
    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        cdf_squash_feed,
    )

    rows = [
        (5, 50.0, "delete", 1),          # pre-window image retracted
        (5, 55.0, "insert", 2),          # re-created
        (6, 60.0, "insert", 1),          # genuine insert…
        (6, 60.0, "delete", 2),          # …then gone: no net rows
        (7, 70.0, "insert", 1),
        (7, 70.0, "update_preimage", 3),
        (7, 77.0, "update_postimage", 3),  # net insert, final image
    ]
    feed = spark.createDataFrame(
        rows, "k int, v double, _change_type string, _commit_version bigint"
    )
    got = sorted(tuple(r) for r in cdf_squash_feed(feed, ["k"]).collect())
    assert got == [
        (5, 50.0, "update_preimage", 1),
        (5, 55.0, "update_postimage", 2),
        (7, 77.0, "insert", 3),
    ]
