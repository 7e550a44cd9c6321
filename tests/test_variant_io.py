"""VARIANT shredded parquet IO (operators.variant_io, VERDICT r05
item 8): the write stores per-field typed column chunks, the read
prunes the scan to the requested paths, and values are identical to
the binary-only layout."""

from __future__ import annotations

import glob
import os

import duckdb
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.variant_io import (
    read_variant_table,
    write_variant_table,
)


def _sample(spark):
    return spark.range(500).selectExpr(
        "id",
        "parse_json(concat('{\"a\":', id, ',\"b\":\"s', id, '\"}')) AS v",
    )


def _one_file(path: str) -> str:
    return glob.glob(os.path.join(path, "*.parquet"))[0]


def _shredded_fields(file_path: str, column: str) -> dict[str, str] | None:
    """The footer's field -> physical type map of ``column``'s
    ``typed_value`` group, or None for a binary-only variant column.
    DuckDB reads the footer: pyarrow 16 rejects its VARIANT logical
    type."""
    nodes = duckdb.sql(
        f"SELECT name, type, num_children FROM parquet_schema('{file_path}')"
    ).fetchall()

    def walk(i):
        """The subtree at pre-order index ``i`` as (name, type,
        children), and the index after it."""
        name, typ, n = nodes[i]
        kids, i = [], i + 1
        for _ in range(n or 0):
            kid, i = walk(i)
            kids.append(kid)
        return (name, typ, kids), i

    def child(node, name):
        return next((k for k in node[2] if k[0] == name), None)

    typed = child(child(walk(0)[0], column), "typed_value")
    if typed is None:
        return None
    return {f[0]: child(f, "typed_value")[1] for f in typed[2]}


def test_shredded_write_stores_typed_field_chunks(spark, tmp_path):
    """The parquet footer of a shredded write has a typed_value group
    with one typed subcolumn per inferred field; the binary-only write
    (conf off) has none — and the conf is restored either way."""
    before = spark.conf.get("spark.sql.variant.writeShredding.enabled")
    shred = str(tmp_path / "shred")
    plain = str(tmp_path / "plain")
    write_variant_table(_sample(spark), shred, shredded=True)
    write_variant_table(_sample(spark), plain, shredded=False)
    assert (
        spark.conf.get("spark.sql.variant.writeShredding.enabled") == before
    )

    fields = _shredded_fields(_one_file(shred), "v")
    assert fields == {"a": "INT64", "b": "BYTE_ARRAY"}
    assert _shredded_fields(_one_file(plain), "v") is None


def test_shredded_and_plain_layouts_read_identically(spark, tmp_path):
    shred = str(tmp_path / "shred2")
    plain = str(tmp_path / "plain2")
    write_variant_table(_sample(spark), shred, shredded=True)
    write_variant_table(_sample(spark), plain, shredded=False)

    def vals(path):
        return sorted(
            (r.id, r.a, r.b)
            for r in read_variant_table(spark, path)
            .selectExpr(
                "id",
                "variant_get(v, '$.a', 'bigint') AS a",
                "variant_get(v, '$.b', 'string') AS b",
            )
            .collect()
        )

    got = vals(shred)
    assert got == vals(plain)
    assert got[0] == (0, 0, "s0") and len(got) == 500


def test_variant_scan_prunes_to_requested_paths(spark, tmp_path):
    """PushVariantIntoScan: typed extractions rewrite the scan's
    ReadSchema to a struct of exactly the requested paths — the shredded
    file's other field chunks are never decoded. A whole-variant read
    keeps the variant type (nothing to prune)."""
    path = str(tmp_path / "shred3")
    write_variant_table(_sample(spark), path, shredded=True)
    back = read_variant_table(spark, path)

    def read_schema(df) -> str:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return next(
            line for line in plan.splitlines() if "ReadSchema" in line
        )

    one = read_schema(back.selectExpr("variant_get(v,'$.a','bigint') a"))
    assert "v:struct<0:bigint>" in one

    two = read_schema(
        back.selectExpr(
            "variant_get(v,'$.a','bigint') a",
            "variant_get(v,'$.b','string') b",
        )
    )
    assert "v:struct<0:bigint,1:string>" in two

    full = read_schema(back.selectExpr("to_json(v) j"))
    assert "0:bigint" not in full and "variant" in full
