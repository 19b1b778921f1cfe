"""Bucketed co-located joins (SURVEY.md §4: "optional bucketing/Z-order on
node_id"; task brief: "bucketing for co-located joins").

Writing nodes and edges bucketed + sorted on the join key lets Catalyst plan
the endpoint-resolution join (J1) and the edge-remap join (J2) with ZERO
exchanges — both sides are already hash-distributed identically, so a
SortMergeJoin runs bucket-local. At 10^12-edge scale this removes the
largest shuffle in graph materialization.

Sandbox caveat: bucket metadata lives in the session catalog (no external
metastore here), so bucketed tables are registered per session via
``saveAsTable``; on a real deployment the same calls target a persistent
catalog (Hive/Iceberg) and survive restarts.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed+sorted parquet table in the session
    catalog. Sorting within buckets lets SortMergeJoin skip its sort too."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def register_bucketed(
    spark: SparkSession,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """(Re-)declare the bucket spec of an existing bucketed parquet directory
    in the session catalog, writing no data and running no Spark job (pinned
    by the kg_submit and new-session resume tests). The spec must match how
    the files were written (write_bucketed), or joins would be silently
    wrong. A no-op when ``table_name`` already points at ``path``; a table of
    that name elsewhere is dropped first, and being external its files
    stay."""
    if spark.catalog.tableExists(table_name):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
        location = next(r.data_type for r in rows if r.col_name == "Location")
        if unquote(urlparse(location).path) == os.path.abspath(path):
            return
        spark.sql(f"DROP TABLE {table_name}")
    # Spark's own schema JSON from one bucket file's footer: no listing or
    # inference job (a new session re-declares the table on every resume)
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    meta = pq.read_schema(os.path.join(path, part)).metadata
    schema = T.StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]))
    fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    cols = ", ".join(f"`{c}`" for c in bucket_cols)
    spark.sql(
        f"CREATE TABLE {table_name} ({fields}) USING parquet "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def colocated_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket keys — planned
    without Exchange when bucket specs match (verify via explain; pinned in
    tests/test_plan_quality.py::test_bucketed_join_no_exchange)."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key], how)
