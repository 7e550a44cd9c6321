"""Property-based checks (hypothesis) for the write-path algebra —
the invariants the reference's v2/v3 pipeline variants exist to provide
(SURVEY.md §5): idempotency and key uniqueness under arbitrary batches.

Kept to few, small examples: each example spins Spark jobs, so the
budget goes to input diversity, not example count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
    idempotent_append_df,
    merge_upsert_df,
)

row = st.tuples(
    st.integers(min_value=0, max_value=9),  # key (small domain → collisions)
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
)
batch = st.lists(row, min_size=0, max_size=8)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, float(v)) for k, v in rows] or [], "k int, v double"
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=batch, source=batch)
def test_merge_upsert_idempotent_and_unique(spark, target, source):
    t = _df(spark, {k: v for k, v in target}.items())  # unique-key target
    s = _df(spark, {k: v for k, v in source}.items())
    once = merge_upsert_df(t, s, keys=["k"])
    twice = merge_upsert_df(once, s, keys=["k"])
    assert _sorted(once) == _sorted(twice)  # applying a batch twice ≡ once
    keys = [r.k for r in once.select("k").collect()]
    assert len(keys) == len(set(keys))  # key uniqueness preserved
    # every source key holds the source value (source wins)
    got = dict((r.k, r.v) for r in once.collect())
    for k, v in {k: v for k, v in source}.items():
        assert got[k] == v


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=batch, b=batch)
def test_idempotent_append_monotone_and_stable(spark, target, b):
    t = _df(spark, {k: v for k, v in target}.items())
    s = _df(spark, b)
    once = idempotent_append_df(t, s, keys=["k"])
    twice = idempotent_append_df(once, s, keys=["k"])
    assert _sorted(once) == _sorted(twice)
    # original target rows never change
    got = dict((r.k, r.v) for r in once.collect())
    for k, v in {k: v for k, v in target}.items():
        assert got[k] == v


# --- curation-operator invariants ---------------------------------------

words = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=4), min_size=1, max_size=40
)
chunk_params = st.tuples(
    st.integers(min_value=2, max_value=10),  # chunk_size
    st.integers(min_value=0, max_value=5),   # overlap (< chunk_size enforced)
)


@given(words=words, params=chunk_params)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunks_reconstruct_document(spark, words, params):
    """Dropping each chunk's leading overlap and concatenating yields the
    original token stream — no token lost or duplicated, any geometry."""
    from etl_end_to_end_airflow_bigquery_spark.operators.text import chunk_tokens

    chunk_size, overlap = params
    overlap = min(overlap, chunk_size - 1)
    doc = " ".join(words)
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    chunks = (
        chunk_tokens(df, chunk_size=chunk_size, overlap=overlap)
        .orderBy("chunk_idx")
        .collect()
    )
    rebuilt: list[str] = []
    for r in chunks:
        toks = r.chunk_text.split(" ")
        rebuilt.extend(toks if not rebuilt else toks[overlap:])
        assert r.n_chunk_tokens == len(toks)
    assert rebuilt == words


@given(keys=st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=1, max_size=50, unique=True))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_split_is_a_partition(spark, keys):
    """Every key lands in exactly one split, and sample ⊆ its split's
    population under the same salt (consistent hashing law)."""
    from etl_end_to_end_airflow_bigquery_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    w = {"a": 0.3, "b": 0.3, "c": 0.4}
    assigned = hash_split(df, "doc_id", w).collect()
    assert len(assigned) == len(keys)          # no row lost or duplicated
    assert {r.split for r in assigned} <= set(w)
    # same salt ⇒ nested cutoffs: a 10% sample is inside a 30% sample
    small = {r.doc_id for r in hash_sample(df, "doc_id", 0.1, salt="s").collect()}
    large = {r.doc_id for r in hash_sample(df, "doc_id", 0.3, salt="s").collect()}
    assert small <= large


# --- round-4 text operators ----------------------------------------------

_pii_free_text = st.text(
    alphabet="abcdefghij ", min_size=0, max_size=60
)


@given(texts=st.lists(_pii_free_text, min_size=1, max_size=8))
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scrub_pii_idempotent_and_conservative(spark, texts):
    """Scrubbing twice = scrubbing once, and PII-free text (letters and
    spaces only — no digits, no @) passes through byte-identical."""
    from etl_end_to_end_airflow_bigquery_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = scrub_pii(df)
    twice = scrub_pii(once.select("doc_id", "text"))
    got_once = {r.doc_id: r.text for r in once.collect()}
    got_twice = {r.doc_id: r.text for r in twice.collect()}
    assert got_once == got_twice
    assert got_once == {i: t for i, t in enumerate(texts)}
    assert all(
        r.n_email == r.n_ssn == r.n_phone == r.n_ipv4 == 0
        for r in once.collect()
    )


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=5, max_size=40),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_duplicate_spans_bounds(spark, texts):
    """0 ≤ n_shared ≤ n_spans, and a doc duplicated verbatim shares
    every span."""
    import os, tempfile
    from etl_end_to_end_airflow_bigquery_spark.plans.queries_ext import (
        duplicate_spans_docs,
    )

    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    # plant an exact duplicate of doc 0 (if it has ≥3 tokens)
    rows.append((len(texts), texts[0], "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in duplicate_spans_docs(spark, d).collect()}
    for r in got.values():
        assert 0 <= r.n_shared_spans <= r.n_spans
        assert 0.0 <= r.shared_frac <= 1.0
    if 0 in got:  # doc 0 had ≥3 tokens → its twin shares everything
        assert got[0].n_shared_spans == got[0].n_spans
        assert got[0].shared_frac == 1.0


# ---------------------------------------------------------------- round 10

edge = st.tuples(
    st.integers(min_value=0, max_value=11),
    st.integers(min_value=0, max_value=11),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(edge, min_size=0, max_size=14),
    seeds=st.sets(st.integers(min_value=0, max_value=11), min_size=1, max_size=3),
    hops=st.integers(min_value=1, max_value=4),
)
def test_bfs_levels_matches_python_bfs(spark, edges, seeds, hops):
    """Frontier-expansion BFS ≡ a driver-side level BFS on arbitrary
    small graphs (self-loops and duplicate edges included)."""
    from etl_end_to_end_airflow_bigquery_spark.operators.dedup import (
        bfs_levels,
    )

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [], "doc_a long, doc_b long"
    )
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r.node: r.dist for r in bfs_levels(pairs, seed_df, hops).collect()}

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, hops + 1):
        frontier = {
            n for f in frontier for n in adj.get(f, ())
        } - set(want)
        for n in frontier:
            want[n] = d
    assert got == want


version = st.tuples(
    st.integers(min_value=0, max_value=5),    # key (collisions)
    st.integers(min_value=0, max_value=30),   # seq
    st.sampled_from(["I", "U", "D"]),
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    stream=st.lists(version, min_size=1, max_size=12, unique_by=lambda v: (v[0], v[1])),
    cut=st.integers(min_value=0, max_value=12),
)
def test_latest_wins_merge_slicing_invariant(spark, stream, cut):
    """Folding the version stream in two arbitrary batches through
    latest_wins_merge ≡ one single-shot fold — the associativity the
    streaming_cdc_apply gate certifies, on arbitrary inputs."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        latest_wins_merge,
    )

    schema = (
        "o_orderkey long,"
        " win struct<seq:bigint,op:string,status:string,price:double>,"
        " n_versions bigint"
    )

    def partial(rows):
        flat = spark.createDataFrame(
            [(k, s, op, f"s{s}", float(s)) for k, s, op in rows] or [],
            "o_orderkey long, seq long, op string, status string,"
            " price double",
        )
        return flat.groupBy("o_orderkey").agg(
            F.expr(
                "max_by(named_struct('seq', seq, 'op', op,"
                " 'status', status, 'price', price), seq)"
            ).alias("win"),
            F.count(F.lit(1)).alias("n_versions"),
        )

    empty = spark.createDataFrame([], schema)
    cut = min(cut, len(stream))
    b1, b2 = stream[:cut], stream[cut:]
    sliced = latest_wins_merge(latest_wins_merge(empty, partial(b1)), partial(b2)) \
        if b1 and b2 else latest_wins_merge(empty, partial(stream))
    direct = latest_wins_merge(empty, partial(stream))
    key = lambda r: (r.o_orderkey, tuple(r.win), r.n_versions)  # noqa: E731
    assert sorted(map(key, sliced.collect())) == sorted(
        map(key, direct.collect())
    )


point = st.tuples(
    st.integers(min_value=1, max_value=9),      # price units (ties likely)
    st.integers(min_value=0, max_value=9),      # day offset (ties likely)
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=st.lists(point, min_size=1, max_size=12))
def test_skyline_decomposition_matches_bruteforce(spark, points, tmp_path_factory):
    """The linear price-grain decomposition ≡ the O(n²) dominance
    definition on arbitrary (price, date) multisets with heavy ties."""
    import datetime
    import os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        skyline_pareto_orders,
    )

    base = datetime.datetime(1996, 1, 1)
    rows = [
        (i, 1, "O", float(p) + 0.25, base + datetime.timedelta(days=d),
         "1-URGENT")
        for i, (p, d) in enumerate(points)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    d = tmp_path_factory.mktemp("sky")
    df.write.parquet(os.path.join(str(d), "orders.parquet"))
    got = {r.o_orderkey for r in skyline_pareto_orders(spark, str(d)).collect()}

    def dominated(i):
        pi, di = points[i]
        return any(
            (pj <= pi and dj >= di and (pj < pi or dj > di))
            for j, (pj, dj) in enumerate(points) if j != i
        )

    want = {i for i in range(len(points)) if not dominated(i)}
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=300),  # cents (2-dp grid)
        min_size=1,
        max_size=25,
    )
)
def test_quantile_histogram_walk_matches_sorted_list(spark, vals, tmp_path_factory):
    """The histogram-state rank walk ≡ ceil(p·n) disc cuts on the
    sorted multiset, for arbitrary 2-dp value multisets."""
    import math
    import os

    from etl_end_to_end_airflow_bigquery_spark.plans.queries_olap import (
        quantile_rollup_cascade,
    )

    from pyspark.sql import functions as F

    rows = [
        (i, f"2024-01-01 {i % 24:02d}:00:00", 1, "t", c / 100.0, "{}")
        for i, c in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    d = tmp_path_factory.mktemp("qh")
    df.write.parquet(os.path.join(str(d), "events.parquet"))
    (r,) = quantile_rollup_cascade(spark, str(d)).collect()
    cents = sorted(int(math.floor((c / 100.0) * 100 + 0.5)) for c in vals)
    n = len(cents)
    for col, p in (("p50", 50), ("p90", 90), ("p99", 99)):
        want = cents[(p * n + 99) // 100 - 1] / 100.0
        assert getattr(r, col) == want, (col, vals)


# --- round-11 operators ----------------------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(target=batch, source=batch, delete=st.booleans())
def test_cdf_is_the_exact_signed_delta(spark, target, source, delete):
    """The load-bearing CDF identity on ARBITRARY tables: folding the
    emitted change feed into the pre-merge grouped state reproduces the
    post-merge state exactly — for plain upserts and full-sync deletes,
    including NULL values and group-moving updates."""
    from etl_end_to_end_airflow_bigquery_spark.operators.incremental import (
        cdf_to_signed,
        merge_avg_state,
        partial_avg_state,
        signed_partial_state,
    )
    from etl_end_to_end_airflow_bigquery_spark.operators.merge_sql import (
        lower_merge,
        parse_merge,
    )
    from pyspark.sql import functions as F

    t = _df(spark, {k: v for k, v in target}.items())
    s = _df(spark, {k: v for k, v in source}.items())
    # group by value parity — updates can MOVE rows between groups
    grp = (F.col("v") >= 0).cast("int").alias("g")
    spec = parse_merge(
        "MERGE t T USING s S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)"
        + (" WHEN NOT MATCHED BY SOURCE THEN DELETE" if delete else "")
    )
    merged, changes = lower_merge(t, s, spec)
    cdf = changes()
    before = partial_avg_state(t.select(grp, "v"), ["g"], "v")
    folded = merge_avg_state(
        before,
        signed_partial_state(
            cdf_to_signed(cdf).select(grp, "v", "__w"), ["g"], "v"
        ),
        ["g"],
    ).filter(F.col("n") > 0)
    direct = partial_avg_state(merged.select(grp, "v"), ["g"], "v").filter(
        F.col("n") > 0
    )
    assert _sorted(folded) == _sorted(direct)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(
        # NEGATIVE ids included (code-review r11: truncating `div`
        # bucketing collided -1 with 63; floor-div pairing with pmod is
        # what this property now guards)
        st.integers(min_value=-300, max_value=300), min_size=0, max_size=40
    ),
    n_slices=st.integers(min_value=1, max_value=4),
)
def test_bitmap_distinct_matches_set_under_slicing(spark, ids, n_slices):
    """Exact-distinct masks: popcount of OR-merged per-slice masks ==
    len(set(ids)) for ANY slicing of the rows — the algebra the batch
    query and the streaming fold both lean on."""
    from pyspark.sql import functions as F

    if not ids:
        return
    df = spark.createDataFrame([(i,) for i in ids], "user_id bigint")
    masks = (
        df.withColumn("slice", F.pmod(F.monotonically_increasing_id(),
                                      F.lit(n_slices)))
        .select(
            "slice",
            F.expr("(user_id - pmod(user_id, 64)) div 64").alias("bucket"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("slice", "bucket")
        .agg(F.expr("bit_or(bit)").alias("mask"))
        # the slice states then OR-merge — the streaming fold's step
        .groupBy("bucket")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
    got = masks.agg(
        F.sum(F.bit_count("mask")).cast("bigint").alias("n")
    ).collect()[0].n
    assert got == len(set(ids))


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1000, allow_nan=False, width=32),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=2,
        max_size=60,
    ),
    box=st.tuples(
        st.floats(min_value=0, max_value=1000, allow_nan=False, width=32),
        st.floats(min_value=0, max_value=1000, allow_nan=False, width=32),
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=0, max_value=500),
    ),
)
def test_grid_skip_report_is_safe_for_any_box(spark, tmp_path_factory, rows, box):
    """Footer-based skipping must NEVER lose a matching row, for any
    data and any 2-D box predicate."""
    from pyspark.sql import functions as F

    from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
        file_skip_report,
        zorder_write_grid,
    )

    a_lo, a_hi = sorted(box[:2])
    b_lo, b_hi = sorted(box[2:])
    path = str(tmp_path_factory.mktemp("prop_zskip")) + "/t"
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in rows], "a double, b bigint"
    )
    zorder_write_grid(df, path, "a", "b", n_files=4, bits=8)
    bounds = {"a": (a_lo, a_hi), "b": (b_lo, b_hi)}
    rep = file_skip_report(path, bounds)
    kept = [r["path"] for r in rep if not r["skip"]]
    pred = F.col("a").between(a_lo, a_hi) & F.col("b").between(b_lo, b_hi)
    want = df.filter(pred).count()
    got = spark.read.parquet(*kept).filter(pred).count() if kept else 0
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    target=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                           allow_nan=False, width=32)),
        ),
        max_size=8,
    ),
    source=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                           allow_nan=False, width=32)),
        ),
        max_size=8,
    ),
    x=st.integers(min_value=-50, max_value=50),
    y=st.integers(min_value=-50, max_value=50),
    z=st.integers(min_value=-50, max_value=50),
)
def test_multiclause_merge_matches_python_reference(spark, target, source, x, y, z):
    """The clause-ladder lowering on ARBITRARY tables (NULL values
    included — 3VL predicates must mean clause-does-not-apply) against
    a direct Python implementation of SQL MERGE's first-match-wins
    semantics."""
    from etl_end_to_end_airflow_bigquery_spark.operators.merge_sql import (
        merge_into,
    )

    tgt = dict(target)
    src = dict(source)

    def ref():
        out = {}
        for k, tv in tgt.items():
            if k in src:
                sv = src[k]
                if sv is not None and sv < x:
                    continue  # clause 1: DELETE
                if tv is not None and tv > y:
                    out[k] = sv  # clause 2: UPDATE SET v
                else:
                    out[k] = tv  # no matched clause applied
            else:
                out[k] = tv  # not matched by source: kept (no clause)
        for k, sv in src.items():
            if k not in tgt and sv is not None and sv >= z:
                out[k] = sv  # conditional INSERT
        return out

    spark.createDataFrame(
        list(tgt.items()), "k int, v double"
    ).createOrReplaceTempView("prop_mc_t")
    spark.createDataFrame(
        list(src.items()), "k int, v double"
    ).createOrReplaceTempView("prop_mc_s")
    got = {
        r.k: r.v
        for r in merge_into(
            spark,
            f"MERGE prop_mc_t T USING prop_mc_s S ON T.k = S.k "
            f"WHEN MATCHED AND S.v < {x} THEN DELETE "
            f"WHEN MATCHED AND T.v > {y} THEN UPDATE SET T.v = S.v "
            f"WHEN NOT MATCHED AND S.v >= {z} THEN INSERT (k, v) "
            f"VALUES (S.k, S.v)",
        ).collect()
    }
    assert got == ref()
