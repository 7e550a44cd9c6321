"""Z-order file skipping (VERDICT r10 item 6): the Morton grid layout
must (a) write one parquet file per non-empty cell with footer min/max
that match the cell's data exactly, (b) skip strictly more files than
the 1-D baseline for a 2-D predicate, and (c) never skip a file that
contains a matching row."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.writers import (
    cluster_write_grid,
    file_skip_report,
    zorder_write_grid,
)

SF = "/root/testdata/sf0.001"
# custkey spans 0–149 at sf0.001: the (10, 60) box crosses two of the
# four custkey quarters, so the Morton grid skips 6/8 files while the
# 1-D price layout (custkey unbounded per file) can only skip on price.
BOUNDS = {"o_totalprice": (60000.0, 230000.0), "o_custkey": (10, 60)}


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("zskip"))
    base = spark.read.parquet(os.path.join(SF, "orders.parquet")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath = os.path.join(root, "z")
    cpath = os.path.join(root, "c")
    zorder_write_grid(base, zpath, "o_totalprice", "o_custkey")
    cluster_write_grid(base, cpath, "o_totalprice")
    return base, zpath, cpath


def test_one_file_per_cell_and_skip_counts(spark, layouts):
    _, zpath, cpath = layouts
    zrep = file_skip_report(zpath, BOUNDS)
    crep = file_skip_report(cpath, BOUNDS)
    assert len(zrep) <= 8 and len(crep) <= 8
    # pinned on the sf0.001 fixture: the 2-D grid skips strictly more
    z_skip, c_skip = sum(r["skip"] for r in zrep), sum(r["skip"] for r in crep)
    assert z_skip > c_skip, (z_skip, c_skip)
    assert z_skip >= 1 and c_skip >= 1  # both layouts skip SOMETHING


def test_skipping_is_safe_no_matching_row_lost(spark, layouts):
    base, zpath, cpath = layouts
    pred = (
        F.col("o_totalprice").between(*BOUNDS["o_totalprice"])
        & F.col("o_custkey").between(*BOUNDS["o_custkey"])
    )
    want = base.filter(pred).count()
    for path in (zpath, cpath):
        kept = [r["path"] for r in file_skip_report(path, BOUNDS) if not r["skip"]]
        got = spark.read.parquet(*kept).filter(pred).count() if kept else 0
        assert got == want, path


def test_footer_stats_match_file_data_exactly(spark, layouts):
    _, zpath, _ = layouts
    for r in file_skip_report(zpath, BOUNDS):
        df = spark.read.parquet(r["path"])
        lo, hi = (
            df.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
        )
        assert r["mins"]["o_totalprice"] == lo
        assert r["maxs"]["o_totalprice"] == hi
        assert r["n_rows"] == df.count()


def test_grid_writers_reject_bad_inputs(spark, tmp_path):
    df = spark.createDataFrame([(1.0, None)], "a double, b double")
    with pytest.raises(ValueError, match="power of two"):
        zorder_write_grid(df, str(tmp_path / "p2"), "a", "b", n_files=6)
    with pytest.raises(ValueError, match="NULL"):
        cluster_write_grid(df.select("b"), str(tmp_path / "c"), "b")
    assert not any((tmp_path / d).exists() for d in ("p2", "c"))
