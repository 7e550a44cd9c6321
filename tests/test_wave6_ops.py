"""Round-11 wave-6 tests: the DPP plan assertion (the gated query
proves the ANSWER; this pins the MECHANISM — a dynamicpruning subquery
under the fact scan's partition filters), CEP boundary-fold slicing
invariance on adversarial cut points (hypothesis), and the
approx-quantile certificate's falsifiability (it must be able to fail
on a wrong answer, or the TRUE-pinned oracle is vacuous)."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_dpp_plan_has_dynamic_pruning_subquery(spark):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        dpp_partitioned_join,
    )

    df = dpp_partitioned_join(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "expected a dynamicpruning expression in the fact scan's "
        "partition filters"
    )
    assert "SubqueryBroadcast" in plan or "SubqueryAdaptiveBroadcast" in plan


# --- CEP slicing invariance -------------------------------------------------

_LETTERS = "vcpes"


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, e string"
    )


def _single_shot(spark, rows):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        cep_match_partials,
    )

    return {
        (r.user_id, r.n_matches, r.first_match_ts)
        for r in cep_match_partials(_mk_events(spark, rows)).collect()
    }


def _fold_slices(spark, name, rows, cuts):
    """Replay `rows` (chronologically sorted) through the query
    ``name``'s own fold step — the per-batch body its stream runs — one
    micro-batch per non-empty slice between the cut indices; returns
    the final counts rows."""
    import tempfile

    from tests.conftest import fold_batches, stream_fold_args

    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        committed_states,
    )

    _, init, step = stream_fold_args(spark, name)
    bounds = [0, *sorted(cuts), len(rows)]
    batches = [
        _mk_events(spark, rows[lo:hi])
        for lo, hi in zip(bounds, bounds[1:])
        if hi > lo
    ]
    with tempfile.TemporaryDirectory() as d:
        dirs = fold_batches(d, name, init, step, batches)
        return committed_states(spark, dirs)["counts"].collect()


def _folded(spark, rows, cuts):
    return {
        (r.user_id, r.n_matches, r.first_match_ts)
        for r in _fold_slices(spark, "streaming_cep_funnel", rows, cuts)
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_cep_fold_is_slicing_invariant(spark, data):
    """Single-shot CEP == streaming_cep_funnel's boundary-tail fold
    step for ANY chronological slicing, including cuts straight through
    a match window."""
    n = data.draw(st.integers(min_value=0, max_value=18))
    base = dt.datetime(2024, 1, 1)
    rows = []
    t = base
    for i in range(n):
        # gaps of 0..30h make the 24h within-clause bind sometimes;
        # occasional 0-gaps exercise the (ts, event_id) tiebreak
        gap = data.draw(st.integers(min_value=0, max_value=30))
        t = t + dt.timedelta(hours=gap)
        user = data.draw(st.integers(min_value=1, max_value=2))
        letter = data.draw(st.sampled_from(_LETTERS))
        rows.append((user, t, i, letter))
    n_cuts = data.draw(st.integers(min_value=0, max_value=3))
    cuts = [
        data.draw(st.integers(min_value=0, max_value=max(n, 1)))
        for _ in range(n_cuts)
    ]
    assert _folded(spark, rows, cuts) == _single_shot(spark, rows)


# --- approx-quantile certificate falsifiability -----------------------------


def test_approx_certificate_true_on_real_sketch_and_false_on_bad_answer(
    spark, tmp_path
):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        APPROX_PCT_ACCURACY,
        approx_quantile_certified,
    )

    # tie-heavy: 600 rows over 3 distinct prices per flag
    rows = []
    for flag in ("A", "N"):
        for i in range(600):
            price = [10.0, 20.0, 30.0][i % 3]
            rows.append((i, 1, 1, 1, 1.0, price, 0.0, 0.0, flag, "O",
                         dt.datetime(1995, 1, 1)))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    got = approx_quantile_certified(spark, str(tmp_path)).collect()
    assert [(r.l_returnflag, r.n_rows, r.exact_median) for r in got] == [
        ("A", 600, 20.0), ("N", 600, 20.0),
    ]
    assert all(r.approx_in_bound for r in got)

    # Falsifiability: drive the QUERY'S OWN certificate expression
    # (not a re-derivation) with the rank counts a deliberately wrong
    # answer (the maximum, 30.0) would produce — it must come back
    # False; and the true-median counts must come back True.
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        approx_rank_certificate,
    )

    cert = approx_rank_certificate(APPROX_PCT_ACCURACY)
    counts = spark.createDataFrame(
        [("bad_max", 600, 600, 400), ("true_median", 600, 400, 200)],
        "label string, n_rows long, r_le long, r_lt long",
    )
    verdicts = {
        r.label: r.ok
        for r in counts.select("label", cert.alias("ok")).collect()
    }
    assert verdicts == {"bad_max": False, "true_median": True}


def test_cep_fold_rejects_out_of_order_batches(spark):
    """The boundary-tail fold's in-order guard compares the FULL
    (ts, event_id) ordering key: a batch starting before the folded
    stream's tail raises — including the equal-ts/smaller-event_id
    case, where a ts-only guard would silently let the tiebreak order
    break (code-review r11). Later or equal-key-forward batches pass;
    empty states are fine."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_stream import (
        _assert_time_contiguous,
    )

    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    h = dt.timedelta(hours=1)
    tails = _mk_events(spark, [(1, t, 5, "v")])
    _assert_time_contiguous(tails, _mk_events(spark, [(1, t + h, 2, "c")]))
    _assert_time_contiguous(tails, _mk_events(spark, [(1, t, 6, "c")]))
    _assert_time_contiguous(
        _mk_events(spark, []), _mk_events(spark, [(1, t - h, 2, "c")])
    )  # empty tail state: any batch is fine
    _assert_time_contiguous(tails, _mk_events(spark, []))  # empty batch
    with pytest.raises(RuntimeError, match="out-of-order"):
        _assert_time_contiguous(
            tails, _mk_events(spark, [(1, t - h, 2, "c")])
        )
    with pytest.raises(RuntimeError, match="out-of-order"):
        # equal ts, smaller event_id — the tiebreak-order violation
        _assert_time_contiguous(
            tails, _mk_events(spark, [(1, t, 4, "c")])
        )


def test_cep_fold_counts_a_match_across_the_batch_edge(spark):
    """A v->c->p match split v | c | p completes only through the tail
    carried across both edges: the fold counts it exactly once."""
    t = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [(1, t, 0, "v"), (1, t + h, 1, "c"), (1, t + 2 * h, 2, "p")]
    assert _folded(spark, rows, [1, 2]) == _single_shot(spark, rows) == {(1, 1, t)}


def test_cep_tails_keep_exactly_last_two_per_user(spark):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_stream import (
        _cep_tails,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(hours=i), i, "v") for i in range(5)
    ] + [(2, base, 100, "c")]
    got = sorted(
        (r.user_id, r.event_id)
        for r in _cep_tails(_mk_events(spark, rows)).collect()
    )
    assert got == [(1, 3), (1, 4), (2, 100)]
