"""SparkSession factory tuned for the KG-construction pipeline.

Single place where execution knobs live so tests, bench.py and the driver
entry all run the same configuration. Local-mode here, but every setting is
chosen to survive a multi-executor cluster at 100 TB:

- AQE on (runtime coalescing + skew-join splitting for hub entities)
- Arrow on (all UDF traffic is vectorized batches, SURVEY.md §2.11)
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from an intentionally high initial number
- parquet pushdown left enabled (never disable filter/column pushdown)
- generated-code cache sized to the program's working set. Spark keeps
  compiled whole-stage and expression classes in one JVM-wide cache of 100
  entries by default. A warm pass of the 14 headline query-pack leaves needs
  ~210 classes and the full 90-entry pack ~1,500, so each pass evicted what
  the next one needed: it recompiled every class with Janino and ran it on a
  freshly loaded class the JIT had not compiled yet. 2048 entries hold the
  full pack. A KG build, resume and fold with a few retrieval calls compile
  ~365 classes, ~75 fewer than with the default. Each cached class retains
  ~30 KB of heap: +3 MB after a headline pass, +9 MB after the KG run.
  Static conf: the first session in the JVM fixes it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "knowledge_graph_rag_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cores`` — int N for local[N], "*" for all, None → $SPARK_GRAFT_CPUS
    or all cores. On a real cluster the master comes from spark-submit and
    this builder only contributes SQL conf.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Text-heavy pandas-UDF stages are CPU-bound per byte: a default
        # 128 MB split puts minutes of regex work in one task and caps
        # parallelism on compressed text corpora. 16 MB splits keep every
        # core busy; AQE re-coalesces downstream where splits are too fine.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
