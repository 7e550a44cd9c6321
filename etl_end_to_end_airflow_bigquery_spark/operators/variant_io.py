"""VARIANT parquet IO — shredded writes and pruned reads (Spark 4).

The reference stores its semi-structured API payloads as typed BigQuery
columns after a Python-side ``rates.items()`` loop
(``dags/ FXRate_Reporting_Pipeline.py:54-61``). The modern lakehouse
equivalent keeps the document AS a document — a ``VARIANT`` column —
while still getting columnar economics, via *shredding* (the Parquet
Variant spec): the writer infers per-field types and stores each field
as its own typed column chunk (``typed_value``) alongside the generic
binary encoding, and the reader prunes to exactly the requested paths.

What Spark 4.1 gives us, and what this module pins down:

- **Shredded write** is ON by default
  (``spark.sql.variant.writeShredding.enabled``): writing a variant
  column produces a parquet group ``(metadata, value, typed_value)``
  where ``typed_value`` holds one typed subcolumn per inferred field
  (``tests/test_variant_io.py`` reads the footer to check it).
- **Pruned read**: the ``PushVariantIntoScan`` optimizer rule rewrites
  a scan under typed ``variant_get`` extractions into a struct of just
  the requested paths — ``.explain`` shows
  ``ReadSchema: struct<v:struct<0:bigint>>`` instead of the whole
  variant, so a query touching ``$.a`` never decodes the other fields'
  chunks. At 100 TB this is the difference between scanning one slim
  typed column and re-parsing every document. Asserted in
  ``tests/test_variant_io.py`` by inspecting the formatted plan.

Both halves are exercised end-to-end by the gated
``variant_shredded_roundtrip`` query (write events' ``props`` as
variant, read back, typed-extract, aggregate — DuckDB oracle on the
original JSON strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SHREDDING_CONF = "spark.sql.variant.writeShredding.enabled"


def write_variant_table(df: DataFrame, path: str, shredded: bool = True) -> None:
    """Write a frame containing VARIANT column(s) to parquet.

    ``shredded=True`` (the Spark 4.1 default) stores per-field typed
    column chunks; ``False`` scopes the conf off for the write —
    useful to produce the binary-only layout for comparison (readers
    handle both; results are identical, only the IO economics differ).
    The conf is restored afterwards (gate queries must not leak
    session state — VERDICT r02 item 7).
    """
    spark = df.sparkSession
    before = spark.conf.get(SHREDDING_CONF)
    try:
        spark.conf.set(SHREDDING_CONF, str(shredded).lower())
        df.write.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(SHREDDING_CONF, before)


def read_variant_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a variant parquet table (shredded or binary-only — the
    reader auto-detects via the file schema)."""
    return spark.read.parquet(path)

