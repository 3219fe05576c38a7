"""Storage layer: Iceberg tables or identical-schema Parquet
directories (SURVEY §7.0).

The engine is storage-agnostic: every reader/writer goes through this
module, and the location string alone picks the format — a
filesystem path (or ``*.parquet``) is a Parquet directory, anything
else a ``catalog.db.table`` name written as an Iceberg table. Passing
catalog table names therefore moves all IO to Iceberg without code
changes. Parquet keeps the same layout (one table per directory) plus
the pipeline's manifest markers for resume. Every write overwrites.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """``location`` is either ``catalog.db.table`` (Iceberg) or a
    filesystem path (Parquet)."""
    if os.sep in location or location.endswith(".parquet"):
        return spark.read.parquet(location)
    return spark.table(location)


def write_table(df: DataFrame, location: str) -> None:
    writer = df.write.mode("overwrite")
    if os.sep in location or location.endswith(".parquet"):
        writer.parquet(location)
    else:
        writer.format("iceberg").saveAsTable(location)


def write_csv(df: DataFrame, path: str) -> None:
    """Debug sink (reference FeatureSpace.to_csv, container.py:115-160).
    Array columns are JSON-encoded so the row-pivot shape survives."""
    from pyspark.sql import functions as F
    out = df
    for name, dtype in df.dtypes:
        if dtype.startswith("array") or dtype.startswith("struct"):
            out = out.withColumn(name, F.to_json(name))
    out.write.mode("overwrite").option("header", True).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """ndarray-aware JSON sink (io/json.py:53-66): Spark renders array
    columns as JSON arrays natively."""
    df.write.mode("overwrite").json(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Write a bucketed (and optionally sorted) table — the layout
    SCALE.md §1 recommends for the docs table: bucket by the join/
    resume key (e.g. doc_id) so joins against model tables bucketed
    the same way are CO-LOCATED (no exchange on either side — verified
    by tests/test_plans.py::test_bucketed_join_is_colocated), and sort
    by n_tok within files so whales cluster into few row groups.

    Bucketing requires the table catalog (``saveAsTable``); ``path``
    makes it an external table at that filesystem location. On a real
    deployment the Iceberg catalog's bucket partition transform plays
    this role; the mechanism below is the built-in Spark one and works
    everywhere."""
    writer = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    if path and os.path.isdir(path) and not any(
            name.endswith(".parquet") for name in os.listdir(path)):
        # a bucketed write of 0 rows leaves no data file, and a path
        # with none is unreadable (no schema to infer): write one empty
        # file under Spark's bucket-0 file name, so that the path reads
        # as an empty table and the catalog table still scans bucketed
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema
        pq.write_table(to_arrow_schema(df.schema).empty_table(),
                       os.path.join(path, "part-00000-empty_00000.c000"
                                          ".snappy.parquet"))
