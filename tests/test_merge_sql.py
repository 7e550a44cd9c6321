"""MERGE INTO SQL front (operators.merge_sql): the reference's literal
statement text (``dags/fx_pipeline_with_merge.py:90-103``) lowered onto
the sentinel-tracked full-outer merge plan."""

from __future__ import annotations

import pytest

from etl_end_to_end_airflow_bigquery_spark.operators.merge_sql import (
    MatchedClause,
    MergeSpec,
    merge_into,
    parse_merge,
)

REFERENCE_SHAPE = """
    MERGE `fx_rates` T
    USING `fx_staging` S
    ON T.date = S.date
       AND T.from_cur = S.from_cur
       AND T.to_cur = S.to_cur
    WHEN MATCHED THEN
        UPDATE SET
            T.rate = S.rate,
            T.timestamp = S.timestamp
    WHEN NOT MATCHED THEN
        INSERT (date, from_cur, to_cur, rate, timestamp)
        VALUES (S.date, S.from_cur, S.to_cur, S.rate, S.timestamp)
"""


def test_parse_reference_statement():
    spec = parse_merge(REFERENCE_SHAPE)
    assert spec.target == "fx_rates"
    assert spec.source == "fx_staging"
    assert spec.keys == ("date", "from_cur", "to_cur")
    # single unconditional UPDATE clause — the reference's shape
    assert spec.matched_clauses == (
        MatchedClause("update", ("rate", "timestamp"), None),
    )
    assert spec.insert_cols == ("date", "from_cur", "to_cur", "rate", "timestamp")
    assert spec.insert_condition is None
    assert not spec.by_source_delete


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT 1",
        # non-identity update expression
        "MERGE a T USING b S ON T.k = S.k WHEN MATCHED THEN UPDATE SET "
        "T.v = S.v + 1 WHEN NOT MATCHED THEN INSERT (k) VALUES (S.k)",
        # ON clause comparing different columns
        "MERGE a T USING b S ON T.k = S.j WHEN MATCHED THEN UPDATE SET "
        "T.v = S.v WHEN NOT MATCHED THEN INSERT (k) VALUES (S.k)",
        # INSERT values out of order vs the column list
        "MERGE a T USING b S ON T.k = S.k WHEN MATCHED THEN UPDATE SET "
        "T.v = S.v WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.v, S.k)",
    ],
)
def test_parse_rejects_unsupported(bad):
    with pytest.raises(ValueError):
        parse_merge(bad)


def test_merge_into_subset_update_and_insert(spark):
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, status string, v double"
    ).createOrReplaceTempView("msql_t")
    spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0)], "k int, status string, v double"
    ).createOrReplaceTempView("msql_s")
    got = {
        r.k: (r.status, r.v)
        for r in merge_into(
            spark,
            "MERGE INTO msql_t T USING msql_s S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.status = S.status "
            "WHEN NOT MATCHED THEN INSERT (k, status, v) "
            "VALUES (S.k, S.status, S.v)",
        ).collect()
    }
    # matched row: only status updated, v kept from the target
    assert got == {1: ("a", 10.0), 2: ("B", 20.0), 3: ("c", 30.0)}
    # MERGE mutates the table: the view now resolves to the merged frame
    assert spark.table("msql_t").count() == 3


def test_merge_into_insert_subset_nulls_unlisted(spark):
    spark.createDataFrame([(1, "a", 10.0)], "k int, s string, v double"
                          ).createOrReplaceTempView("msql_t2")
    spark.createDataFrame([(2, "b", 20.0)], "k int, s string, v double"
                          ).createOrReplaceTempView("msql_s2")
    rows = merge_into(
        spark,
        "MERGE msql_t2 T USING msql_s2 S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED THEN INSERT (k, s) VALUES (S.k, S.s)",
    ).collect()
    by_k = {r.k: (r.s, r.v) for r in rows}
    assert by_k == {1: ("a", 10.0), 2: ("b", None)}


def test_merge_into_validates_columns(spark):
    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("msql_t3")
    spark.createDataFrame([(1, 2)], "k int, z int"
                          ).createOrReplaceTempView("msql_s3")
    with pytest.raises(ValueError, match="not in target schema"):
        merge_into(
            spark,
            "MERGE msql_t3 T USING msql_s3 S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.k = S.k "
            "WHEN NOT MATCHED THEN INSERT (k, z) VALUES (S.k, S.z)",
        )


def test_merge_into_validates_insert_cols_against_source(spark):
    """ADVICE r05: an INSERT column in the target but absent from the
    source must raise the module's loud ValueError, not an opaque
    AnalysisException on ``S.<col>`` later."""
    spark.createDataFrame([(1, 2)], "k int, z int"
                          ).createOrReplaceTempView("msql_t4")
    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("msql_s4")
    with pytest.raises(ValueError, match="not in source frame"):
        merge_into(
            spark,
            "MERGE msql_t4 T USING msql_s4 S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.k = S.k "
            "WHEN NOT MATCHED THEN INSERT (k, z) VALUES (S.k, S.z)",
        )


def test_merge_into_rejects_duplicate_source_keys(spark):
    """ADVICE r05: SQL MERGE raises a cardinality violation when one
    target row matches multiple source rows; the lowering's full-outer
    join would instead silently duplicate the target row. Guarded by
    default; an explicit opt-out restores the raw join behavior."""
    spark.createDataFrame([(1, 10.0)], "k int, v double"
                          ).createOrReplaceTempView("msql_t5")
    spark.createDataFrame([(1, 11.0), (1, 12.0)], "k int, v double"
                          ).createOrReplaceTempView("msql_s5")
    stmt = (
        "MERGE msql_t5 T USING msql_s5 S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)"
    )
    with pytest.raises(ValueError, match="cardinality violation"):
        merge_into(spark, stmt)


def test_merge_into_key_column_named_count(spark):
    """ADVICE r6: the cardinality guard used .count() and filtered on
    the literal column name 'count' — a merge whose KEY column is named
    'count' collided and died with an ambiguous-column
    AnalysisException. The guard now aggregates under a reserved-prefix
    alias, so both the happy path and the duplicate-key contract error
    work for that key name."""
    spark.createDataFrame([(1, 10.0)], "count int, v double"
                          ).createOrReplaceTempView("msql_t6")
    spark.createDataFrame([(1, 11.0), (2, 12.0)], "count int, v double"
                          ).createOrReplaceTempView("msql_s6")
    stmt = (
        "MERGE msql_t6 T USING msql_s6 S ON T.count = S.count "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED THEN INSERT (count, v) VALUES (S.count, S.v)"
    )
    got = {(r["count"], r.v) for r in merge_into(spark, stmt).collect()}
    assert got == {(1, 11.0), (2, 12.0)}
    # duplicate keys under the same column name still raise the LOUD
    # contract error, not an AnalysisException
    spark.createDataFrame([(1, 11.0), (1, 12.0)], "count int, v double"
                          ).createOrReplaceTempView("msql_s6")
    with pytest.raises(ValueError, match="cardinality violation"):
        merge_into(spark, stmt)


def test_merge_into_rejects_dotted_target(spark):
    """ADVICE r05: a parsed ``db.tbl`` target would read fine and then
    crash at temp-view re-registration — reject it up front."""
    with pytest.raises(ValueError, match="dotted"):
        merge_into(
            spark,
            "MERGE `proj.ds.tbl` T USING msql_s5 S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.v = S.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)",
        )


def test_parse_delete_clause():
    spec = parse_merge(
        REFERENCE_SHAPE + " WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    assert spec.by_source_delete is True
    assert parse_merge(REFERENCE_SHAPE).by_source_delete is False


def test_merge_into_delete_unmatched_target(spark):
    """Full-sync MERGE: target rows with no source match are deleted;
    matched rows update; source-only rows insert."""
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (9, "z", 90.0)],
        "k int, status string, v double",
    ).createOrReplaceTempView("msql_t6")
    spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0)], "k int, status string, v double"
    ).createOrReplaceTempView("msql_s6")
    got = {
        r.k: (r.status, r.v)
        for r in merge_into(
            spark,
            "MERGE INTO msql_t6 T USING msql_s6 S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.status = S.status "
            "WHEN NOT MATCHED THEN INSERT (k, status, v) "
            "VALUES (S.k, S.status, S.v) "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        ).collect()
    }
    # rows 1 and 9 (target-only) deleted; 2 updated (v kept); 3 inserted
    assert got == {2: ("B", 20.0), 3: ("c", 30.0)}


# --- multi-clause conditional MERGE (VERDICT r10 item 4) -----------------


def _mk_views(spark, tname, sname):
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, status string, v double",
    ).createOrReplaceTempView(tname)
    spark.createDataFrame(
        [(2, "B", 99.0), (3, "C", 5.0), (5, "e", 50.0), (6, "f", 1.0)],
        "k int, status string, v double",
    ).createOrReplaceTempView(sname)


def test_matched_and_delete_clause(spark):
    _mk_views(spark, "mc_t1", "mc_s1")
    got = {
        r.k: (r.status, r.v)
        for r in merge_into(
            spark,
            "MERGE mc_t1 T USING mc_s1 S ON T.k = S.k "
            "WHEN MATCHED AND S.v < 10 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET T.status = S.status, T.v = S.v "
            "WHEN NOT MATCHED THEN INSERT (k, status, v) "
            "VALUES (S.k, S.status, S.v)",
        ).collect()
    }
    # k=3 matched with S.v=5 < 10 → deleted; k=2 matched → updated;
    # 5,6 inserted; 1,4 pass through
    assert got == {
        1: ("a", 10.0), 2: ("B", 99.0), 4: ("d", 40.0),
        5: ("e", 50.0), 6: ("f", 1.0),
    }


def test_clause_order_precedence_first_match_wins(spark):
    _mk_views(spark, "mc_t2", "mc_s2")
    # both clauses' predicates hold for k=3 (S.v=5): first one (status
    # update) must win — swap the clauses and v updates instead
    a = {
        r.k: (r.status, r.v)
        for r in merge_into(
            spark,
            "MERGE mc_t2 T USING mc_s2 S ON T.k = S.k "
            "WHEN MATCHED AND S.v < 10 THEN UPDATE SET T.status = S.status "
            "WHEN MATCHED THEN UPDATE SET T.v = S.v",
        ).collect()
    }
    assert a[3] == ("C", 30.0)  # status clause applied, v untouched
    assert a[2] == ("b", 99.0)  # fell through to the v clause
    _mk_views(spark, "mc_t2", "mc_s2")
    b = {
        r.k: (r.status, r.v)
        for r in merge_into(
            spark,
            "MERGE mc_t2 T USING mc_s2 S ON T.k = S.k "
            "WHEN MATCHED AND S.v >= 10 THEN UPDATE SET T.v = S.v "
            "WHEN MATCHED THEN UPDATE SET T.status = S.status",
        ).collect()
    }
    assert b[3] == ("C", 30.0)
    assert b[2] == ("b", 99.0)
    # source-only rows are ignored without an INSERT clause
    assert set(b) == {1, 2, 3, 4}


def test_conditional_insert(spark):
    _mk_views(spark, "mc_t3", "mc_s3")
    got = merge_into(
        spark,
        "MERGE mc_t3 T USING mc_s3 S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED AND S.v >= 10 THEN INSERT (k, status, v) "
        "VALUES (S.k, S.status, S.v)",
    )
    ks = sorted(r.k for r in got.collect())
    assert ks == [1, 2, 3, 4, 5]  # k=6 (v=1.0) failed the insert guard


def test_conditional_by_source_delete(spark):
    _mk_views(spark, "mc_t4", "mc_s4")
    got = merge_into(
        spark,
        "MERGE mc_t4 T USING mc_s4 S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED BY SOURCE AND T.v > 15 THEN DELETE",
    )
    ks = sorted(r.k for r in got.collect())
    # target-only rows: 1 (v=10, kept), 4 (v=40, deleted)
    assert ks == [1, 2, 3]


def test_null_predicate_means_clause_does_not_apply(spark):
    spark.createDataFrame([(1, None), (2, 20.0)], "k int, v double"
                          ).createOrReplaceTempView("mc_t5")
    spark.createDataFrame([(1, 5.0), (2, 5.0)], "k int, v double"
                          ).createOrReplaceTempView("mc_s5")
    got = {
        r.k: r.v
        for r in merge_into(
            spark,
            "MERGE mc_t5 T USING mc_s5 S ON T.k = S.k "
            "WHEN MATCHED AND T.v > 10 THEN UPDATE SET T.v = S.v",
        ).collect()
    }
    # T.v NULL → predicate NULL → clause does not apply (3VL)
    assert got == {1: None, 2: 5.0}


def test_unconditional_non_last_matched_clause_rejected():
    with pytest.raises(ValueError, match="unreachable"):
        parse_merge(
            "MERGE a T USING b S ON T.k = S.k "
            "WHEN MATCHED THEN UPDATE SET T.v = S.v "
            "WHEN MATCHED AND S.v < 10 THEN DELETE"
        )


@pytest.mark.parametrize(
    "bad",
    [
        # arbitrary expression in predicate (arithmetic)
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED AND S.v + 1 > 2 THEN DELETE",
        # unqualified column reference (ambiguous)
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED AND v > 2 THEN DELETE",
        # function call
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED AND abs(S.v) > 2 THEN DELETE",
        # alias other than the declared two
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED AND X.v > 2 THEN DELETE",
        # S.col in a BY SOURCE predicate (sees only target rows)
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v "
        "WHEN NOT MATCHED BY SOURCE AND S.v > 2 THEN DELETE",
        # T.col in a NOT MATCHED predicate (sees only source rows)
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN NOT MATCHED AND T.v > 2 THEN INSERT (k) VALUES (S.k)",
        # two INSERT clauses
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN NOT MATCHED AND S.v > 2 THEN INSERT (k) VALUES (S.k) "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (S.k)",
    ],
)
def test_parse_rejects_unsupported_multiclause(bad):
    with pytest.raises(ValueError):
        parse_merge(bad)


def test_predicate_column_checked_against_schema(spark):
    spark.createDataFrame([(1, 1.0)], "k int, v double"
                          ).createOrReplaceTempView("mc_t6")
    spark.createDataFrame([(1, 1.0)], "k int, v double"
                          ).createOrReplaceTempView("mc_s6")
    with pytest.raises(ValueError, match="not in source schema"):
        merge_into(
            spark,
            "MERGE mc_t6 T USING mc_s6 S ON T.k = S.k "
            "WHEN MATCHED AND S.nope > 1 THEN DELETE",
        )


def test_string_literal_and_in_list_predicates(spark):
    _mk_views(spark, "mc_t7", "mc_s7")
    got = {
        r.k: r.v
        for r in merge_into(
            spark,
            "MERGE mc_t7 T USING mc_s7 S ON T.k = S.k "
            "WHEN MATCHED AND S.status IN ('B', 'Z') THEN UPDATE SET T.v = S.v "
            "WHEN MATCHED AND T.status = 'c' THEN DELETE",
        ).collect()
    }
    assert got == {1: 10.0, 2: 99.0, 4: 40.0}  # 2 updated, 3 deleted


def test_predicate_alias_collision_with_internal_names(spark):
    """code-review r11: the old two-pass regex rewrite sent target
    references through the source when the user's source alias was
    literally 't' — the DELETE then judged the wrong side's value."""
    spark.createDataFrame([(1, 10.0), (2, 2.0)], "k int, v double"
                          ).createOrReplaceTempView("mcx_t")
    spark.createDataFrame([(1, 1.0), (2, 99.0)], "k int, v double"
                          ).createOrReplaceTempView("mcx_s")
    got = {
        r.k: r.v
        for r in merge_into(
            spark,
            # target alias 'a', source alias 't' — the collision case
            "MERGE mcx_t a USING mcx_s t ON a.k = t.k "
            "WHEN MATCHED AND a.v > 5 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET a.v = t.v",
        ).collect()
    }
    # a.v>5 judges the TARGET value: k=1 (v=10) deleted, k=2 updated
    assert got == {2: 99.0}


def test_predicate_string_literal_not_rewritten(spark):
    spark.createDataFrame([(1, "T.v1"), (2, "x")], "k int, s string"
                          ).createOrReplaceTempView("mcl_t")
    spark.createDataFrame([(1, "z"), (2, "z")], "k int, s string"
                          ).createOrReplaceTempView("mcl_s")
    got = {
        r.k: r.s
        for r in merge_into(
            spark,
            "MERGE mcl_t T USING mcl_s S ON T.k = S.k "
            "WHEN MATCHED AND T.s = 'T.v1' THEN UPDATE SET T.s = S.s",
        ).collect()
    }
    # the literal 'T.v1' must survive the alias rewrite untouched
    assert got == {1: "z", 2: "x"}


def test_negative_literal_allowed_binary_minus_rejected():
    spec = parse_merge(
        "MERGE a T USING b S ON T.k = S.k "
        "WHEN MATCHED AND S.v < -1.5 THEN DELETE"
    )
    assert spec.matched_clauses[0].condition.strip() == "S.v < -1.5"
    with pytest.raises(ValueError, match="arithmetic"):
        parse_merge(
            "MERGE a T USING b S ON T.k = S.k "
            "WHEN MATCHED AND S.v - 1 < 0 THEN DELETE"
        )
