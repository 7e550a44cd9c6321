"""Round-12 wave tests: file_lineage_scan's physical contract (the
gated query proves the ACCOUNTING matches the logical load slices;
these pin the MECHANISM — exactly one parquet file per hive load leaf,
and provenance recovered from the file path rather than the partition
column)."""

from __future__ import annotations

import glob
import os

from tests.conftest import SF_SMALL


def test_lineage_landing_is_one_file_per_load(spark):
    """The writer contract the oracle's row count relies on: the
    ``repartition(load).partitionBy(load)`` landing produces exactly
    one data file under each ``__load=K`` leaf, and the query emits
    exactly one row per file."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        LINEAGE_N_LOADS,
        file_lineage_scan,
    )
    from etl_end_to_end_airflow_bigquery_spark import tmputil
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    rows = file_lineage_scan(spark, SF_SMALL).collect()
    assert len(rows) == LINEAGE_N_LOADS
    assert sorted(r.load_id for r in rows) == list(range(LINEAGE_N_LOADS))
    # the fixture dir is registered with tmputil and still on disk
    # until swept — inspect the physical layout directly
    roots = [
        d
        for d in tmputil._TMP_ROOTS
        if os.path.basename(d).startswith("lineage_") and os.path.isdir(d)
    ]
    assert roots, "lineage fixture dir not found"
    landing = os.path.join(roots[-1], "events_landing")
    for k in range(LINEAGE_N_LOADS):
        leaf = os.path.join(landing, f"__load={k}")
        files = glob.glob(os.path.join(leaf, "*.parquet"))
        assert len(files) == 1, f"load {k}: expected 1 file, got {files}"
    sweep_tmpdirs()


def test_lineage_provenance_comes_from_file_path(spark):
    """Row counts per load must equal the logical slice sizes — and the
    load ids must have been parsed out of input_file_name(), so a row
    landed in the wrong leaf would be charged to the WRONG load (the
    failure input_file_name provenance exists to catch)."""
    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        LINEAGE_N_LOADS,
        file_lineage_scan,
    )
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs
    from pyspark.sql import functions as F

    got = {
        r.load_id: (r.n_rows, r.id_checksum)
        for r in file_lineage_scan(spark, SF_SMALL).collect()
    }
    want = {
        r.load_id: (r.n_rows, r.id_checksum)
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy(
            F.pmod(F.col("event_id"), F.lit(LINEAGE_N_LOADS)).alias("load_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("id_checksum"),
        )
        .collect()
    }
    assert got == want
    sweep_tmpdirs()


# --- Misra-Gries merge law ---------------------------------------------------

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _split_multiset(draw):
    """A small random multiset over a tiny alphabet, cut into 1-5 parts
    at arbitrary points (adversarial splits are the merge law's whole
    job)."""
    items = draw(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=120)
    )
    n_parts = draw(st.integers(min_value=1, max_value=5))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(items)),
                min_size=n_parts - 1,
                max_size=n_parts - 1,
            )
        )
    )
    bounds = [0, *cuts, len(items)]
    return items, [items[a:b] for a, b in zip(bounds, bounds[1:])]


@given(_split_multiset(), st.integers(min_value=1, max_value=6))
@settings(max_examples=200, deadline=None)
def test_mg_prune_merge_law(split, k):
    """Summing per-part mg_prune residuals: (a) each part's summary has
    <= k items; (b) merged weights never overcount; (c) total
    undercount per item <= sum_p n_p // (k+1); (d) every item with
    true count > n/(k+1) survives with positive merged weight — the
    recall guarantee the exact-recount stage relies on."""
    from etl_end_to_end_airflow_bigquery_spark.operators.sketch import mg_prune

    items, parts = split
    true = Counter(items)
    n = len(items)
    merged: Counter = Counter()
    slack = 0
    for part in parts:
        summary = mg_prune(Counter(part), k)
        assert len(summary) <= k
        for i, w in summary.items():
            assert w > 0
            merged[i] += w
        slack += len(part) // (k + 1)
    for i, c in true.items():
        assert merged[i] <= c, "MG must never overcount"
        assert c - merged[i] <= slack, "undercount exceeded the merge bound"
        if c * (k + 1) > n:
            assert merged[i] > 0, (
                f"true heavy hitter {i!r} (count {c}, n {n}) lost by merge"
            )


def test_mg_candidates_cover_true_hitters(spark):
    """The distributed candidate stage (mapInPandas partials over the
    real physical partitioning) must contain every true heavy hitter
    at the query's threshold, and the gated query must equal brute
    force exactly."""
    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators.sketch import (
        mg_candidates,
    )
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        MG_HH_DIVISOR,
        MG_K,
        misra_gries_heavy_hitters,
    )
    from pyspark.sql import functions as F

    toks = (
        load_table(spark, SF_SMALL, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    n = toks.count()
    brute = {
        r.token: r.n
        for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
        if r.n * MG_HH_DIVISOR > n
    }
    cand = {
        r.token
        for r in mg_candidates(toks, "token", MG_K)
        .groupBy("token")
        .agg(F.sum("mg_weight").alias("w"))
        .collect()
        if r.w > 0
    }
    assert set(brute) <= cand, "candidate stage lost a true heavy hitter"
    got = {
        r.token: r.n_exact
        for r in misra_gries_heavy_hitters(spark, SF_SMALL).collect()
    }
    assert got == brute


# --- MMR rerank ---------------------------------------------------------------

def test_mmr_rerank_mechanism(spark):
    """Three invariants the gated hash can't localize by itself: picks
    are unique per query, pick 1 is the pure-relevance argmax (empty
    picked set => no redundancy term), and the diversity term actually
    reorders at least one query away from relevance order (lam=0.3 —
    if this ever degenerates to top-k by relevance the operator is
    vacuous)."""
    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators.similarity import (
        MMR_K,
        cosine_topk,
        mmr_rerank,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    got = mmr_rerank(emb).orderBy("q_id", "pick").collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    rel = cosine_topk(emb, k=MMR_K).orderBy("q_id", "rank").collect()
    rel_by_q: dict = {}
    for r in rel:
        rel_by_q.setdefault(r.q_id, []).append(r.neighbor_id)
    any_reordered = False
    for q, rows in by_q.items():
        ids = [r.neighbor_id for r in rows]
        assert len(ids) == len(set(ids)) == MMR_K
        assert ids[0] == rel_by_q[q][0], "pick 1 must be the relevance argmax"
        if ids != rel_by_q[q]:
            any_reordered = True
    assert any_reordered, "MMR never diverged from relevance order"


# --- Kleene CEP: cap semantics + slicing invariance --------------------------

import datetime as dt

from hypothesis import HealthCheck


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, e string"
    )


def _kleene_single_shot(spark, rows):
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        cep_kleene_matches,
    )
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_stream import (
        _kleene_partials,
    )

    return {
        (r.user_id, r.n_matches, r.first_match_ts, r.longest_run)
        for r in _kleene_partials(
            cep_kleene_matches(_mk_events(spark, rows))
        ).collect()
    }


def _kleene_folded(spark, rows, cuts):
    """Replay chronological `rows` through streaming_cep_kleene's own
    fold step (cap+1 tails, matches counted only when their purchase is
    in the batch), with batch edges at the cut indices."""
    from tests.test_wave6_ops import _fold_slices

    return {
        (r.user_id, r.n_matches, r.first_match_ts, r.longest_run)
        for r in _fold_slices(spark, "streaming_cep_kleene", rows, cuts)
    }


def _seq(spark, letters, gap_hours=1):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(hours=i * gap_hours), i, ch)
        for i, ch in enumerate(letters)
    ]
    return rows


def test_kleene_cap_boundary(spark):
    """Runs of exactly CAP clicks match with n_clicks = CAP; CAP+1
    clicks yield NO match (rejected, not truncated); a zero-click
    v->p pair never matches; the within-clause binds on the VIEW ts."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        CEP_KLEENE_CAP as CAP,
        cep_kleene_matches,
    )

    at_cap = cep_kleene_matches(
        _mk_events(spark, _seq(spark, "v" + "c" * CAP + "p"))
    ).collect()
    assert len(at_cap) == 1 and at_cap[0].n_clicks == CAP
    over_cap = cep_kleene_matches(
        _mk_events(spark, _seq(spark, "v" + "c" * (CAP + 1) + "p"))
    ).collect()
    assert over_cap == []
    no_click = cep_kleene_matches(
        _mk_events(spark, _seq(spark, "vp"))
    ).collect()
    assert no_click == []
    # v..p spread over 26h with 13h gaps: within(24h) must reject
    late = cep_kleene_matches(
        _mk_events(spark, _seq(spark, "vcp", gap_hours=13))
    ).collect()
    assert late == []


def test_kleene_tail_truncation_is_sound(spark):
    """The adversarial case the cap+1 tail must survive: a run longer
    than the cap whose purchase arrives in a LATER batch — the
    truncated tail is all clicks, the anchor is NULL, and no false
    match is produced."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        CEP_KLEENE_CAP as CAP,
    )

    rows = _seq(spark, "v" + "c" * (CAP + 2) + "p")
    # cut right before the purchase: the tail sees only clicks
    cut = len(rows) - 1
    assert _kleene_folded(spark, rows, [cut]) == set()
    assert _kleene_single_shot(spark, rows) == set()


def test_kleene_match_left_in_the_tail_is_counted_once(spark):
    """A whole match can sit in the cap+1 tail when the next batch
    arrives; the fold counts it only in the batch holding its
    purchase, never again from the tail."""
    rows = _seq(spark, "vcpee")
    got = _kleene_folded(spark, rows, [3])
    assert got == _kleene_single_shot(spark, rows)
    assert [n for _, n, _, _ in got] == [1]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data())
def test_kleene_fold_is_slicing_invariant(spark, data):
    """Single-shot Kleene CEP == streaming_cep_kleene's cap+1-tail fold
    step for ANY chronological slicing, including cuts through the
    middle of a click run."""
    n = data.draw(st.integers(min_value=0, max_value=18))
    base = dt.datetime(2024, 1, 1)
    rows = []
    t = base
    for i in range(n):
        gap = data.draw(st.integers(min_value=0, max_value=30))
        t = t + dt.timedelta(hours=gap)
        user = data.draw(st.integers(min_value=1, max_value=2))
        letter = data.draw(st.sampled_from("vcpes"))
        rows.append((user, t, i, letter))
    n_cuts = data.draw(st.integers(min_value=0, max_value=3))
    cuts = [
        data.draw(st.integers(min_value=0, max_value=max(n, 1)))
        for _ in range(n_cuts)
    ]
    assert _kleene_folded(spark, rows, cuts) == _kleene_single_shot(spark, rows)


# --- history_file_stats: skip planning from snapshot metadata ----------------

def test_history_file_stats_skip_mechanism(spark, tmp_path):
    """The parts the gated hash can't pin because merge-leaf boundaries
    are session-dependent: stats cover every data file (row sum ==
    table count), change-feed files are excluded, at least one file is
    actually SKIPPED for a selective band under the controlled test
    session, time travel to an old version works, and a plain dir is
    rejected."""
    import pytest
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        history_file_stats,
        merge_upsert,
        read_table,
        table_versions,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    path = str(tmp_path / "orders_tbl")
    merge_upsert(spark, path, orders.filter(F.col("o_orderkey") % 3 != 0),
                 keys=["o_orderkey"])
    merge_upsert(
        spark, path,
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("o_orderstatus", F.lit("M")),
        keys=["o_orderkey"],
    )
    stats = history_file_stats(path, ["o_totalprice"])
    cur = read_table(spark, path)
    assert sum(s["n_rows"] for s in stats) == cur.count()
    assert all("_change_data" not in s["path"] for s in stats)
    mn = min(s["mins"]["o_totalprice"] for s in stats)
    # a band below every file's min must skip ALL files
    lo, hi = mn - 1000.0, mn - 1.0
    skipped = [
        s for s in stats
        if s["mins"]["o_totalprice"] > hi or s["maxs"]["o_totalprice"] < lo
    ]
    assert len(skipped) == len(stats)
    # old snapshot addressable; plain dirs rejected
    v0 = table_versions(path)[0]
    old = history_file_stats(path, ["o_totalprice"], version=v0)
    assert sum(s["n_rows"] for s in old) == read_table(spark, path, version=v0).count()
    with pytest.raises(ValueError, match="not a versioned table"):
        history_file_stats(str(tmp_path), ["o_totalprice"])


def test_spatial_refine_overflow_raises_loudly(spark):
    """ADVICE r11: coordinates past the documented 2^31 bound must fail
    the job with the overflow message, never return a wrapped (silently
    wrong) distance."""
    import pytest

    from etl_end_to_end_airflow_bigquery_spark.operators.spatial import (
        grid_within_radius,
    )

    # candidates only meet within adjacent cells (differences <= ~3r),
    # so the wrap needs coordinates AND radius near the bound: with
    # r = 2^31 (the largest radius whose r^2 still fits int64) a
    # neighbor-cell candidate at 2r-1 gives dx^2 ~ 1.8e19 > 2^63.
    r = 1 << 31
    left = spark.createDataFrame([(1, 0, 0)], "lid long, lx long, ly long")
    right = spark.createDataFrame([(20, 2 * (1 << 31) - 1, 0)],
                                  "rid long, rx long, ry long")
    with pytest.raises(Exception, match="overflowed int64"):
        grid_within_radius(left, right, r, ("lx", "ly"), ("rx", "ry")).collect()
    # sane coordinates still work end-to-end after the guard
    ok = grid_within_radius(
        spark.createDataFrame([(1, 0, 0)], "lid long, lx long, ly long"),
        spark.createDataFrame([(10, 3, 4)], "rid long, rx long, ry long"),
        5, ("lx", "ly"), ("rx", "ry"),
    ).collect()
    assert [(r.lid, r.rid, r.d2) for r in ok] == [(1, 10, 25)]


# --- bucketed table diff ------------------------------------------------------

def test_table_diff_protocol_mechanism(spark):
    """Identical replicas: zero mismatched buckets and an empty diff
    (the protocol's fast path — two digest passes, no row work).
    Drifted replica: the drill-down touches a strict subset of buckets
    and the classified diff equals the brute-force full-outer diff."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators.reconcile import (
        DIFF_BUCKETS,
        _digests,
        bucketed_table_diff,
    )
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        TDIFF_COLS,
        _tdiff_replica,
    )

    orders = load_table(spark, SF_SMALL, "orders")
    assert bucketed_table_diff(
        orders, orders, "o_orderkey", TDIFF_COLS
    ).count() == 0

    replica = _tdiff_replica(orders)
    ld = _digests(orders, "o_orderkey", TDIFF_COLS)
    rd = _digests(replica, "o_orderkey", TDIFF_COLS)
    mism = (
        ld.alias("l").join(rd.alias("r"), "bucket", "full_outer")
        .filter(
            ~(F.col("l.n").eqNullSafe(F.col("r.n"))
              & F.col("l.fp_sum").eqNullSafe(F.col("r.fp_sum"))
              & F.col("l.fp_xor").eqNullSafe(F.col("r.fp_xor")))
        ).count()
    )
    assert 0 < mism < DIFF_BUCKETS, (
        f"sparse drift should disagree in some but not all buckets, got {mism}"
    )
    got = {
        (r.diff_kind, r.key)
        for r in bucketed_table_diff(
            orders, replica, "o_orderkey", TDIFF_COLS
        ).collect()
    }
    brute = (
        orders.alias("b")
        .join(replica.alias("r"),
              F.col("b.o_orderkey") == F.col("r.o_orderkey"), "full_outer")
        .select(
            F.when(F.col("b.o_orderkey").isNull(), F.lit("inserted"))
            .when(F.col("r.o_orderkey").isNull(), F.lit("deleted"))
            .when(F.col("b.o_orderpriority") != F.col("r.o_orderpriority"),
                  F.lit("modified"))
            .alias("diff_kind"),
            F.coalesce(F.col("b.o_orderkey"), F.col("r.o_orderkey"))
            .alias("key"),
        )
        .filter(F.col("diff_kind").isNotNull())
        .collect()
    )
    assert got == {(r.diff_kind, r.key) for r in brute}


def test_table_diff_null_drift_is_detected(spark):
    """Code-review r12: a value moving between columns — ('X', NULL) ->
    (NULL, 'X') — or a column going NULL must fingerprint differently
    (a caller-side concat_ws silently dropped NULL fields and the
    drift vanished)."""
    from etl_end_to_end_airflow_bigquery_spark.operators.reconcile import (
        bucketed_table_diff,
    )

    left = spark.createDataFrame(
        [(1, "X", None), (2, "Y", "Z"), (3, "A", "B")],
        "k bigint, a string, b string",
    )
    right = spark.createDataFrame(
        [(1, None, "X"), (2, "Y", None), (3, "A", "B")],
        "k bigint, a string, b string",
    )
    got = {
        (r.diff_kind, r.key)
        for r in bucketed_table_diff(left, right, "k", ["k", "a", "b"]).collect()
    }
    assert got == {("modified", 1), ("modified", 2)}


def test_table_diff_null_vs_sentinel_string_detected(spark):
    """ADVICE r12: NULL coalesced to a literal sentinel made a drift
    between NULL and the genuine string '<null>' invisible; the
    null-flag rendering ('n' vs 'v:<value>') must see it."""
    from etl_end_to_end_airflow_bigquery_spark.operators.reconcile import (
        bucketed_table_diff,
        row_fingerprint,
    )

    left = spark.createDataFrame(
        [(1, "<null>"), (2, None), (3, "ok")], "k bigint, a string"
    )
    right = spark.createDataFrame(
        [(1, None), (2, "<null>"), (3, "ok")], "k bigint, a string"
    )
    got = {
        (r.diff_kind, r.key)
        for r in bucketed_table_diff(left, right, "k", ["k", "a"]).collect()
    }
    assert got == {("modified", 1), ("modified", 2)}
    # and directly: the two renderings fingerprint differently
    fps = (
        left.select(row_fingerprint(["a"]).alias("fp"))
        .collect()
    )
    assert fps[0].fp != fps[1].fp


def test_table_diff_duplicate_key_raises(spark):
    """ADVICE r12: duplicate keys would fan out the level-2 full-outer
    join and could miscount — the plan-embedded guard must raise
    instead of silently misclassifying."""
    import pytest

    from etl_end_to_end_airflow_bigquery_spark.operators.reconcile import (
        bucketed_table_diff,
    )

    left = spark.createDataFrame(
        [(1, "X"), (1, "Y"), (2, "Z")], "k bigint, a string"
    )
    right = spark.createDataFrame([(2, "W")], "k bigint, a string")
    # raise_error surfaces wrapped in the JVM exception chain — match on
    # the guard's message, not the wrapper type
    with pytest.raises(Exception, match="unique key|duplicate k="):
        bucketed_table_diff(left, right, "k", ["k", "a"]).collect()


def test_mg_candidates_non_string_items(spark):
    """Code-review r12: the summary schema must follow the item
    column's type (a hardcoded string field broke bigint items)."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.operators.sketch import (
        mg_candidates,
    )

    # Item 42 is every other row, so it holds about half of ANY
    # contiguous partition and outweighs the (k+1)-th count there: it
    # survives pruning at every partition count. A uniform input would
    # tie every item at the (k+1)-th weight in each partition, where
    # Misra-Gries rightly keeps nothing.
    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 2 == 0, F.lit(42))
        .otherwise(F.col("id") % 7)
        .alias("user_id")
    )
    got = mg_candidates(df, "user_id", 3)
    assert dict(got.dtypes)["user_id"] == "bigint"
    merged = {
        r.user_id: r.w
        for r in got.groupBy("user_id")
        .agg(F.sum("mg_weight").alias("w"))
        .collect()
    }
    assert 42 in merged and all(isinstance(k, int) for k in merged)


def test_footer_minmax_partial_stats_means_must_scan(tmp_path):
    """Code-review r12: a file where any row group lacks min/max for a
    column must report None bounds for it (falsely narrow bounds could
    skip a file whose unstatted row group holds matching rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _footer_minmax,
    )

    # ADVICE r12: the earlier construction (reopening the same path with
    # a second ParquetWriter) TRUNCATED the file, leaving one stats-less
    # row group — a file both the buggy and the fixed code report as
    # None, so the test was vacuous. A genuinely MIXED file instead:
    # per-column statistics (stats on `w` only), so the completeness
    # bookkeeping must track columns independently within one footer.
    t = pa.table(
        {"v": pa.array([100.0, 200.0]), "w": pa.array([7.0, 9.0])}
    )
    f = str(tmp_path / "mixed_cols.parquet")
    pq.write_table(t, f, write_statistics=["w"])
    md = pq.ParquetFile(f).metadata  # prove the construction is real
    assert md.row_group(0).column(0).statistics is None  # v unstatted
    assert md.row_group(0).column(1).statistics.has_min_max  # w statted
    n, mins, maxs = _footer_minmax(f, ["v", "w"])
    assert n == 2
    assert mins["v"] is None and maxs["v"] is None, (
        "stats-less column must report must-scan bounds"
    )
    assert (mins["w"], maxs["w"]) == (7.0, 9.0), (
        "statted column in the same footer must keep its real bounds"
    )
    # multi-row-group accumulation: bounds span ALL statted row groups
    t2a = pa.table({"v": pa.array([60.0, 90.0])})
    t2b = pa.table({"v": pa.array([40.0, 70.0])})
    f2 = str(tmp_path / "statted.parquet")
    with pq.ParquetWriter(f2, t2a.schema) as w:
        w.write_table(t2a)
        w.write_table(t2b)
    assert pq.ParquetFile(f2).metadata.num_row_groups == 2
    n2, mins2, maxs2 = _footer_minmax(f2, ["v"])
    assert (n2, mins2["v"], maxs2["v"]) == (4, 40.0, 90.0)


def test_footer_minmax_undecodable_stats_mean_must_scan(spark, tmp_path):
    """Spark stores decimal(p<=18) as INT64, whose statistics pyarrow
    cannot decode: that column's bounds are unknown (None), the other
    columns keep theirs, and a versioned commit of such a table works."""
    import decimal
    import glob

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        _footer_minmax,
        merge_upsert,
        read_table,
    )

    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.5")), (5, decimal.Decimal("2.25"))],
        "k bigint, amt decimal(18,4)",
    )
    out = str(tmp_path / "dec")
    df.coalesce(1).write.parquet(out)
    (f,) = glob.glob(out + "/*.parquet")
    n, mins, maxs = _footer_minmax(f)
    assert n == 2 and (mins["k"], maxs["k"]) == (1, 5)
    assert mins["amt"] is None and maxs["amt"] is None
    path = str(tmp_path / "t")
    merge_upsert(spark, path, df, keys=["k"])
    assert sorted(r.amt for r in read_table(spark, path).collect()) == [
        decimal.Decimal("1.5000"), decimal.Decimal("2.2500")
    ]


@given(_split_multiset(), st.integers(min_value=1, max_value=6))
@settings(max_examples=200, deadline=None)
def test_mg_sequential_fold_preserves_recall(split, k):
    """The STREAMING fold's algebra (merge each part's summary into the
    running state, then RE-PRUNE the state to k rows) must keep every
    item with true count > n/(k+1) in the final state — the
    merge-then-prune law streaming_misra_gries serves from."""
    from etl_end_to_end_airflow_bigquery_spark.operators.sketch import mg_prune

    items, parts = split
    true = Counter(items)
    n = len(items)
    state: Counter = Counter()
    for part in parts:
        for i, w in mg_prune(Counter(part), k).items():
            state[i] += w
        state = Counter(mg_prune(state, k))
    assert len(state) <= k
    for i, c in true.items():
        assert state[i] <= c, "fold must never overcount"
        if c * (k + 1) > n:
            assert state[i] > 0, (
                f"heavy hitter {i!r} (count {c}, n {n}) lost by the "
                "merge-then-prune fold"
            )


def test_mg_prune_df_matches_dict_prune(spark):
    """The relational re-prune must be value-identical to the dict
    form, including across a weight tie at the rank boundary."""
    from etl_end_to_end_airflow_bigquery_spark.operators.sketch import (
        mg_prune,
        mg_prune_df,
    )

    counts = {"a": 9, "b": 7, "c": 7, "d": 7, "e": 2}
    for k in (1, 2, 3, 4, 5):
        want = mg_prune(counts, k)
        df = spark.createDataFrame(
            list(counts.items()), "token string, mg_weight bigint"
        )
        got = {
            r.token: r.mg_weight for r in mg_prune_df(df, "token", k).collect()
        }
        assert got == want, f"k={k}: {got} != {want}"


# --- partition-spec evolution --------------------------------------------------

def test_partition_evolution_prunes_asymmetrically(spark):
    """The physical plan must show the type IN-list as a PARTITION
    filter on the evolved layout's scan and NOT on the legacy layout's
    (where event_type is a data column) — plus the schema guard must
    reject layouts whose data columns diverge."""
    import pytest

    from etl_end_to_end_airflow_bigquery_spark.io import read_partition_evolved
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        partition_evolution_read,
    )
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    # the default 100-char metadata truncation cuts the filter list
    # mid-"event_type" — widen it for the assertion
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = partition_evolution_read(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = [
        seg for seg in plan.split("FileScan") if "PartitionFilters: [" in seg
    ]
    pf = [
        seg.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        for seg in scans
    ]
    typed = [f for f in pf if "event_type" in f]
    dated_only = [f for f in pf if "event_type" not in f and "event_date" in f]
    assert typed, f"no scan partition-prunes on event_type: {pf}"
    assert dated_only, f"no scan prunes on event_date alone: {pf}"
    sweep_tmpdirs()

    left = spark.createDataFrame([(1, "a")], "id bigint, x string")
    import tempfile
    d1 = tempfile.mkdtemp(prefix="pevo_t1_")
    d2 = tempfile.mkdtemp(prefix="pevo_t2_")
    left.write.mode("overwrite").parquet(d1)
    spark.createDataFrame([(1, 2.0)], "id bigint, y double").write.mode(
        "overwrite"
    ).parquet(d2)
    with pytest.raises(ValueError, match="one logical schema"):
        read_partition_evolved(spark, [(d1, []), (d2, [])])


def test_partition_evolution_history_prunes_from_layout_map(spark):
    """The HISTORY-resolved variant (VERDICT r12 item 3) must show the
    same asymmetric pruning as the caller-supplied r12 query — type
    IN-list as a PartitionFilter only on the evolved layout's scan —
    with the layout map coming from the snapshot's own metadata."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        partition_evolution_history,
    )
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = partition_evolution_history(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
        sweep_tmpdirs()
    scans = [
        seg for seg in plan.split("FileScan") if "PartitionFilters: [" in seg
    ]
    pf = [
        seg.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        for seg in scans
    ]
    typed = [f for f in pf if "event_type" in f]
    dated_only = [f for f in pf if "event_type" not in f and "event_date" in f]
    assert typed, f"no scan partition-prunes on event_type: {pf}"
    assert dated_only, f"no scan prunes on event_date alone: {pf}"


def test_partition_evolution_type_drift_raises(spark, tmp_path):
    """ADVICE r12: same column NAMES but drifted TYPES (the easy way:
    partition-value inference types a directory key as int in one
    layout while the other stores it as a string data column) must
    raise loudly naming the column and both types, not silently coerce
    through unionByName."""
    import pytest

    from etl_end_to_end_airflow_bigquery_spark.io import read_partition_evolved

    d1 = str(tmp_path / "legacy")
    d2 = str(tmp_path / "evolved")
    # legacy: k is a STRING data column
    spark.createDataFrame(
        [("1", 10.0), ("2", 20.0)], "k string, v double"
    ).write.parquet(d1)
    # evolved: k becomes a partition directory whose values re-infer as INT
    spark.createDataFrame(
        [(3, 30.0), (4, 40.0)], "k bigint, v double"
    ).write.partitionBy("k").parquet(d2)
    with pytest.raises(ValueError, match="type drift.*k: string -> "):
        read_partition_evolved(spark, [(d1, []), (d2, ["k"])])


def test_mmr_rerank_over_index_candidates(spark, tmp_path):
    """The serving path: stored-IVF-PQ candidates, exact-cosine rerank
    as relevance, same greedy — picks are unique, within the candidate
    set, and pick 1 is the exact-cosine argmax AMONG the candidates."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.io import load_table
    from etl_end_to_end_airflow_bigquery_spark.operators.similarity import (
        MMR_FANOUT,
        MMR_K,
        build_ivfpq_index,
        mmr_rerank,
        search_ivfpq_index,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    idx = str(tmp_path / "index")
    build_ivfpq_index(emb, idx)
    cand = search_ivfpq_index(spark, idx, emb, "vec_id < 5", k=MMR_FANOUT)
    cand_ids = {(r.q_id, r.neighbor_id) for r in cand.collect()}
    got = mmr_rerank(
        emb, query_pred="vec_id < 5",
        candidate_ids=cand.select("q_id", "neighbor_id"),
    ).orderBy("q_id", "pick").collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rows in by_q.items():
        ids = [r.neighbor_id for r in rows]
        assert len(ids) == len(set(ids)) == min(MMR_K, len(ids))
        assert all((q, i) in cand_ids for i in ids)
        # pick 1 is the relevance argmax, so no later pick can beat it
        assert rows[0].pick == 1
        assert rows[0].relevance >= max(r.relevance for r in rows)


def test_spec_rollback_prunes_each_layout_under_its_own_spec(spark):
    """VERDICT r13 item 2's pruning pin: the rollback query's final
    read spans THREE layouts — the date bound must appear as a
    PartitionFilter on ALL scans (every layout partitions on
    event_date) while the type IN-list partition-prunes ONLY the
    middle (day,type) layout; the first and third layouts share the
    day-only spec, so exactly two scans must prune on event_date
    alone."""
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        partition_spec_rollback,
    )
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try:
        df = partition_spec_rollback(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
        sweep_tmpdirs()
    scans = [
        seg for seg in plan.split("FileScan") if "PartitionFilters: [" in seg
    ]
    # dedupe: AQE prints each FileScan twice (initial + final plan)
    pf = sorted({
        seg.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        for seg in scans
    })
    typed = [f for f in pf if "event_type" in f and "event_date" in f]
    dated_only = [f for f in pf if "event_type" not in f and "event_date" in f]
    assert len(typed) == 1, f"exactly one scan prunes on type+date: {pf}"
    assert len(dated_only) == 2, (
        f"both day-spec layouts (first and rolled-back third) must "
        f"prune on event_date alone: {pf}"
    )
