"""Structured-Streaming ingest (optional capability, beyond the reference).

The reference is explicitly batch-only ("Real-time streaming: batch
processing only", README.md:232; SURVEY.md §2.10 — no watermarks/session
windows required). This module exists because the directory-watcher ingest
loop (S9, ``auto_processor.py:828-887``) maps naturally onto a file-source
stream, giving the same at-least-once, ledger-backed semantics with
checkpointing handled by Spark instead of a hand-rolled ``.processed_files``:

- :func:`stream_logs` — file-source stream of JSON log batches → the same
  parse/score plan as batch (plans are shared: parse_logs/score_connections
  are pure DataFrame transforms, batch/stream agnostic).
- :func:`stream_to_graph_sink` — foreachBatch writer that upserts each
  micro-batch through GraphStore.store_graph_merge, i.e. the S11 MERGE: the
  first batch creates the graph partition, every later one merges into it
  (telemetry nodes carry ``props``, which the merge takes column-wise).

``trigger(availableNow=True)`` turns it back into the reference's startup
scan: process everything pending, then stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.graph_build import telemetry_edges, telemetry_nodes
from ..operators.network import parse_logs, score_connections
from ..schemas import NETWORK_LOG_SCHEMA
from ..sources.graph_store import GraphStore


def stream_logs(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a drop directory of JSON log files → scored
    connections (same transforms as the batch path)."""
    raw = (
        spark.readStream.schema(NETWORK_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(input_dir)
    )
    return score_connections(parse_logs(raw))


def stream_to_graph_sink(
    scored: DataFrame,
    store: GraphStore,
    graph_id: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """foreachBatch MERGE into the partitioned graph tables. Exactly-once per
    micro-batch via the streaming checkpoint + idempotent snapshot commit."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        nodes = telemetry_nodes(batch_df, graph_id)
        edges = telemetry_edges(batch_df, graph_id)
        store.store_graph_merge(nodes, edges, graph_id)
        # keep the invariant entity_index == f(current nodes partition):
        # every other node-commit path (run/run_incremental/delete_graph)
        # maintains the index, so this sink must too or indexed search
        # silently misses stream-fed graphs
        from ..operators.retrieval import refresh_entity_index

        refresh_entity_index(store, graph_id)
        store.mark_done("stream_batch", f"{graph_id}:{batch_id}")

    writer = (
        scored.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 16) -> DataFrame:
    """readStream over a drop directory of interleaved-document parquet files
    (the north-star input shape) — each micro-batch is a normal DataFrame,
    so the whole batch extraction stack applies unchanged inside
    foreachBatch."""
    from ..schemas import DOCUMENTS_INTERLEAVED_SCHEMA

    return (
        spark.readStream.schema(DOCUMENTS_INTERLEAVED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_documents_to_kg(
    docs_stream: DataFrame,
    store: GraphStore,
    graph_id: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming semantic-KG construction: each micro-batch folds into the
    graph through ``pipeline.run_incremental`` — extraction + whole-row-dedup
    union with the existing partition + entity-index refresh, committed via
    the partition-scoped snapshot protocol.

    Exactly-once per micro-batch: the streaming checkpoint replays a crashed
    batch with the SAME batch_id, and run_incremental's manifest guard
    (``incremental::<graph>::stream<batch_id>``) makes the replay a no-op —
    the same contract the reference's `.processed_files` ledger provides for
    its watcher loop (auto_processor.py:843-883), with Spark owning the
    offsets. Stream output == batch output over the same files is pinned by
    test_stream_documents_to_kg_matches_batch."""
    from ..plans import pipeline

    spark = docs_stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipeline.run_incremental(
            spark, batch_df, store, graph_id=graph_id,
            run_id=f"stream{batch_id}",
        )

    writer = (
        docs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
