"""Incremental aggregate maintenance == full recompute, bit-for-bit,
under any batch arrival order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
    finish_avg,
    merge_avg_state,
    partial_avg_state,
    signed_partial_state,
)

SF_DIR = "/root/testdata/sf0.01"
KEYS = ["report_date", "event_type"]


def _events(spark):
    from etl_end_to_end_airflow_bigquery_spark.sources.events import load_events

    return load_events(spark, SF_DIR).select(
        F.to_date("ts").alias("report_date"), "event_type", "value", "event_id"
    )


def test_incremental_equals_full_recompute(spark):
    ev = _events(spark)
    full = finish_avg(partial_avg_state(ev, KEYS, "value"))

    # arbitrary 3-way batch split (hash on event_id), applied incrementally
    batches = [ev.filter(F.pmod(F.hash("event_id"), F.lit(3)) == i) for i in range(3)]
    state = partial_avg_state(batches[0], KEYS, "value")
    for b in batches[1:]:
        state = merge_avg_state(state, partial_avg_state(b, KEYS, "value"), KEYS)
    inc = finish_avg(state)

    key = KEYS + ["sum_u", "n", "avg_value"]
    a = sorted(tuple(r) for r in full.select(*key).collect())
    b = sorted(tuple(r) for r in inc.select(*key).collect())
    assert a == b  # exact: scaled-int state is associative


def test_late_batch_only_touches_its_groups(spark):
    ev = _events(spark)
    state0 = partial_avg_state(ev, KEYS, "value")
    # a late batch for ONE (day, type) group
    one = ev.orderBy("report_date", "event_type").limit(1)
    late = one.select("report_date", "event_type",
                      (F.col("value") * 2).alias("value"), "event_id")
    merged = merge_avg_state(
        state0, partial_avg_state(late, KEYS, "value"), KEYS
    )
    changed = (
        merged.alias("m")
        .join(state0.alias("s"), KEYS)
        .filter("m.n <> s.n OR m.sum_u <> s.sum_u")
        .count()
    )
    assert changed == 1  # exactly the late group restates
    assert merged.count() == state0.count()


def test_retraction_deltas_equal_post_cdc_recompute(spark):
    """Update/delete retractions (VERDICT r06 item 6): stored state ⊕
    signed CDC deltas lands bit-identically on a full recompute of the
    post-CDC table."""
    ev = _events(spark)
    stored = partial_avg_state(ev, KEYS, "value")

    # CDC: delete every 5th event, double the value of every 7th
    h = F.pmod(F.hash("event_id"), F.lit(35))
    deletes = ev.filter(h % 5 == 0).withColumn("__w", F.lit(-1))
    upd = ev.filter((h % 7 == 0) & (h % 5 != 0))
    cdc = deletes.unionByName(
        upd.withColumn("__w", F.lit(-1))
    ).unionByName(
        upd.withColumn("value", F.col("value") * 2).withColumn("__w", F.lit(1))
    )
    merged = merge_avg_state(
        stored, signed_partial_state(cdc, KEYS, "value"), KEYS
    ).filter(F.col("n") > 0)

    post = ev.filter(h % 5 != 0).withColumn(
        "value",
        F.when(h % 7 == 0, F.col("value") * 2).otherwise(F.col("value")),
    )
    expect = partial_avg_state(post, KEYS, "value")

    cols = KEYS + ["sum_u", "n"]
    a = sorted(tuple(r) for r in merged.select(*cols).collect())
    b = sorted(tuple(r) for r in expect.select(*cols).collect())
    assert a == b


def test_fully_retracted_group_exits_the_view(spark):
    """Retracting every row of a group drives its count to zero; the
    n > 0 filter removes it from the maintained view."""
    rows = [("a", 1.0), ("a", 3.0), ("b", 2.0)]
    base = spark.createDataFrame(rows, "k string, value double")
    stored = partial_avg_state(base, ["k"], "value")
    cdc = spark.createDataFrame(
        [("a", 1.0, -1), ("a", 3.0, -1)], "k string, value double, __w int"
    )
    merged = merge_avg_state(
        stored, signed_partial_state(cdc, ["k"], "value"), ["k"]
    ).filter(F.col("n") > 0)
    got = {(r.k, r.sum_u, r.n) for r in merged.collect()}
    assert got == {("b", 2_000_000, 1)}


def test_null_valued_retraction_is_a_noop(spark):
    """ADVICE r7: a NULL-valued CDC row contributes to NEITHER sum_u nor
    n — matching partial_avg_state's count(value) semantics — so
    retracting it leaves the maintained average untouched instead of
    silently decrementing the count."""
    base = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0)], "k string, value double"
    )
    stored = partial_avg_state(base, ["k"], "value")
    # retract the NULL row (e.g. a late correction deleting it)
    cdc = spark.createDataFrame(
        [("a", None, -1)], "k string, value double, __w int"
    )
    merged = merge_avg_state(
        stored, signed_partial_state(cdc, ["k"], "value"), ["k"]
    )
    got = {(r.k, r.sum_u, r.n) for r in merged.collect()}
    assert got == {("a", 4_000_000, 2)}  # unchanged: NULL never counted


def _ivm_step(prev, batch):
    """A signed-retraction fold step, as ``streaming_ivm_revenue``'s."""
    delta = signed_partial_state(batch, ["seg"], "v")
    return {"avg": merge_avg_state(prev["avg"], delta, ["seg"])}


def _data_bytes(path):
    """Every data file's bytes under ``path``, in part order (file names
    carry a per-write id, so only contents can be compared)."""
    from etl_end_to_end_airflow_bigquery_spark.io import iter_data_files

    return [open(f, "rb").read() for _, f in sorted(iter_data_files(path))]


def _fold_jobs(spark, fn):
    """Run ``fn`` under a fresh job group: the descriptions of the jobs
    it started, once the listener bus has delivered every job start."""
    import uuid

    sc = spark.sparkContext
    group = f"fold_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "caller")
    try:
        fn()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return {
        store.job(j).description().get()
        for j in sc.statusTracker().getJobIdsForGroup(group)
    }


def test_versioned_fold_replay_is_idempotent(spark, tmp_path):
    """foreachBatch's at-least-once window: re-delivering the same
    micro-batch to the stream's own per-batch body recomputes its state
    version byte-identically instead of folding twice; the fold's jobs
    carry ``<name>:batch<id>`` and the caller's description survives."""
    import os

    from tests.conftest import fold_batches

    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        fold_stream_batch,
    )

    base = spark.createDataFrame(
        [("A", 10.0), ("A", 20.0), ("B", 5.0)], "seg string, v double"
    )
    cdc = spark.createDataFrame(
        [("A", 10.0, -1), ("B", 7.0, 1)], "seg string, v double, __w int"
    )
    init = {"avg": partial_avg_state(base, ["seg"], "v")}
    dirs = fold_batches(str(tmp_path), "replay", init, _ivm_step, [cdc])
    b0 = os.path.join(dirs["avg"], "state_b0")
    once = _data_bytes(b0)
    # redeliver the SAME batch → same version recomputed, not re-folded
    descs = _fold_jobs(
        spark, lambda: fold_stream_batch("replay", dirs, _ivm_step, cdc, 0)
    )
    assert descs == {"replay:batch0"}
    assert once and _data_bytes(b0) == once
    got = {r.seg: (r.sum_u, r.n) for r in spark.read.parquet(b0).collect()}
    assert got == {"A": (20_000_000, 1),   # 10 retracted from {10, 20}
                   "B": (12_000_000, 2)}   # 5 + inserted 7


def test_latest_committed_state_survives_restart(spark, tmp_path):
    """ADVICE r9: the previous-version lookup comes from DISK, not
    driver memory — after a restart, a replayed batch k folds onto the
    committed version < k its first delivery saw, and a half-written
    version (no _SUCCESS marker) is invisible."""
    import os

    from tests.conftest import fold_batches

    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        fold_stream_batch,
        latest_committed_state,
    )

    schema = "seg string, v double, __w int"
    base = spark.createDataFrame([("A", 10.0), ("B", 5.0)], "seg string, v double")
    dirs = fold_batches(
        str(tmp_path), "restart",
        {"avg": partial_avg_state(base, ["seg"], "v")}, _ivm_step, [],
    )
    d = dirs["avg"]
    init = os.path.join(d, "state_init")
    # no versions yet → the initial build, from any process
    assert latest_committed_state(d) == init
    assert latest_committed_state(d, below=3) == init

    b0, b2 = os.path.join(d, "state_b0"), os.path.join(d, "state_b2")
    d0 = spark.createDataFrame([("A", 2.0, 1)], schema)
    d2 = spark.createDataFrame([("B", 3.0, 1)], schema)
    fold_stream_batch("restart", dirs, _ivm_step, d0, 0)
    fold_stream_batch("restart", dirs, _ivm_step, d2, 2)  # batch 1: none
    # the lookup a replay of batch 2 makes, from any process, is b0
    assert latest_committed_state(d, below=2) == b0
    # and the final read resolves the newest committed version
    assert latest_committed_state(d) == b2
    # so the replay recomputes b2 from b0, byte for byte
    first = _data_bytes(b2)
    fold_stream_batch("restart", dirs, _ivm_step, d2, 2)
    assert _data_bytes(b2) == first
    got = {r.seg: (r.sum_u, r.n) for r in spark.read.parquet(b2).collect()}
    assert got == {"A": (12_000_000, 2), "B": (8_000_000, 2)}

    # a crashed fold leaves no _SUCCESS → invisible to the lookup
    os.makedirs(os.path.join(d, "state_b5"))
    assert latest_committed_state(d) == b2
    assert latest_committed_state(d, below=6) == b2


# every registry query whose micro-batches go through versioned_stream_fold
FOLD_QUERIES = [
    "streaming_ivm_revenue",
    "streaming_rollup_cascade",
    "streaming_cdc_apply",
    "streaming_quantile_cascade",
    "streaming_bitmap_distinct",
    "streaming_cep_funnel",
    "streaming_cep_kleene",
    "streaming_misra_gries",
    "streaming_incremental_dedup",
]


@pytest.mark.parametrize("name", FOLD_QUERIES)
def test_empty_batch_folds_to_an_equal_version(spark, tmp_path, name):
    """The fold runs no emptiness probe: an empty micro-batch goes
    through the query's own step like any other, so each step must
    write a next version equal, row for row, to the previous one."""
    import os
    from collections import Counter

    from tests.conftest import fold_batches, stream_fold_args

    feed, init, step = stream_fold_args(spark, name)
    dirs = fold_batches(
        str(tmp_path), name, init, step, [feed, feed.limit(0)]
    )
    for s, d in dirs.items():
        b0, b1 = (
            Counter(spark.read.parquet(os.path.join(d, v)).collect())
            for v in ("state_b0", "state_b1")
        )
        assert b0 and b1 == b0, (name, s)


def test_stream_timeout_stops_the_query_and_raises(spark, monkeypatch):
    """A stream still running at STREAM_TIMEOUT_S is stopped and
    raises: no answer from partial state, no stream thread left."""
    import time

    from etl_end_to_end_airflow_bigquery_spark.operators import incremental

    monkeypatch.setattr(incremental, "STREAM_TIMEOUT_S", 1)

    def slow(prev, batch):
        time.sleep(5)
        return prev

    with pytest.raises(TimeoutError, match="still running"):
        incremental.versioned_stream_fold(
            spark, "timeout_probe", spark.range(4), {"s": spark.range(0)},
            slow,
        )
    assert spark.streams.active == []
