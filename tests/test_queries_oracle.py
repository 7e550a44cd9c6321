"""The driver's correctness gate as a pytest: every queries() entry vs
its DuckDB oracle_sql() at sf0.001 (row count + columns + canonical
order-insensitive values). The heavier sf0.01 sweep runs via
tools/selfcheck.py.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from etl_end_to_end_airflow_bigquery_spark.schemas import TESTDATA_TABLES
from tools.selfcheck import frame_to_rows

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def _green_history() -> frozenset[str]:
    """Every name with a green driver row in a committed
    ``CORRECTNESS_r*.json``. Rounds 1–4 had no red rows, so every
    recorded name counts; from r05 on, only rows whose rows, schema and
    hash all match with no error enter the union (r05's hash mismatch
    on mix_sources_tokens and r06's two — mix_sources_tokens,
    variant_function_pack, the HUGEINT oracle-type bug — stayed
    rotation-eligible until their green r07 rows)."""
    import json

    root = Path(__file__).resolve().parent.parent
    paths = sorted(root.glob("CORRECTNESS_r*.json"))
    assert paths, "no committed CORRECTNESS_r*.json files"
    u: set[str] = set()
    for p in paths:
        rows = json.loads(p.read_text())
        if int(p.stem.rsplit("_r", 1)[1]) <= 4:
            u |= set(rows)
            continue
        u |= {
            n
            for n, v in rows.items()
            if v.get("rows_match")
            and v.get("schema_match")
            and v.get("hash_match", True)
            and not v.get("err")
        }
    return frozenset(u)


GREEN = _green_history()


def test_gate_first_50_spans_families_and_rotates():
    """The driver verifies the FIRST 50 queries() entries in dict order.
    Two properties, both load-bearing (VERDICT r02 item 1 + r03 item 2):

    1. ANCHORS — every operator family keeps at least one hard-signal
       row: a registry edit can't silently push streaming, pandas-UDF,
       multimodal, dedup, ANN, OLAP, or CDC past the gate.
    2. ROTATION — the non-anchor slots hold queries that have NEVER had
       a green driver row in a prior round (per the recorded
       CORRECTNESS history), so coverage widens every round instead of
       re-verifying the same 50 forever; checked against that history
       by test_gated_history_matches_correctness_files.
    """
    from etl_end_to_end_airflow_bigquery_spark.plans import _GATE_ANCHORS

    names = list(QUERIES)[:50]
    got = set(names)
    # anchors: one per family, permanently gated
    assert set(_GATE_ANCHORS) <= got
    assert sum(n.startswith("streaming") for n in names) >= 1
    assert "grouped_stats_pandas" in got          # pandas-UDF surface
    assert any(n.startswith("multimodal") for n in names)
    assert {"dedup_exact_docs", "curated_corpus_v2"} <= got  # dedup chain
    assert {"cosine_topk", "ivf_topk_kmeans"} <= got         # ANN
    assert {"merge_upsert_orders", "idempotent_append_orders"} <= got
    assert "scd2_orders_status" in got                       # SCD2/CDC


def test_gated_history_matches_correctness_files():
    """The gate rules hold against the green history the committed
    CORRECTNESS files record (r8+ policy, VERDICT r07 item 1): rotation
    slots hold never-green names (the round's NEW queries), backfill
    slots hold deliberate re-proofs of prior greens, and no registered
    query is left both never-green and outside the gate."""
    from etl_end_to_end_airflow_bigquery_spark.plans import (
        _GATE_PRIORITY,
        _GATE_ROTATION,
        _REPROOF_BACKFILL,
    )

    stale = [n for n in _GATE_ROTATION if n in GREEN]
    assert not stale, f"rotation slots must hold never-green names: {stale}"
    not_reproof = [n for n in _REPROOF_BACKFILL if n not in GREEN]
    assert not not_reproof, (
        f"backfill slots must hold previously-green names: {not_reproof}"
    )
    unproven = [n for n in QUERIES if n not in GREEN and n not in _GATE_PRIORITY]
    assert not unproven, (
        f"never-driver-proven queries left outside the gate: {unproven}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, oracle_con, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols, svals = frame_to_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    rel = oracle_con.execute(ORACLES[name])
    dcols, dvals = frame_to_rows([d[0] for d in rel.description], rel.fetchall())
    assert scols == dcols
    assert len(svals) == len(dvals)
    assert svals == dvals
