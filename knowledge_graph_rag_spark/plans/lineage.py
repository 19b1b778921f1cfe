"""Per-partition lineage + metrics (north-rule requirement).

:func:`partition_lineage` gives explicit per-partition row counts
(``spark_partition_id`` groupBy), emitted as LINEAGE_SCHEMA rows into the
metrics table; this is the audit trail that makes a resumed run provably
identical to an uninterrupted one (compare per-partition counts across
runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """LINEAGE_SCHEMA rows: one per (stage, partition) with its row count."""
    return (
        df.select(F.spark_partition_id().alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            F.lit("rows").alias("metric"),
            "value",
        )
    )


def totals(metrics_df: DataFrame) -> DataFrame:
    """Stage-level rollup of the per-partition rows."""
    return (
        metrics_df.groupBy("run_id", "stage", "metric")
        .agg(F.sum("value").alias("value"), F.count("*").alias("partitions"))
        .orderBy("run_id", "stage", "metric")
    )
