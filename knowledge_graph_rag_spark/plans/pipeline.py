"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

The Spark re-expression of the reference's upload-csv lifecycle
(SURVEY.md §3.1) generalized to the interleaved-documents north-star input:

  stage extract      documents → spans → mentions+raw triples (pandas UDF)
  stage resolve      alias/T4/T5 resolution → triples + mentions snapshots
  stage canonicalize MinHash-LSH over distinct surface forms + connected
                     components → canonical-surface map snapshot (bounded by
                     |distinct surfaces|, NOT by corpus size — at 10^12 docs
                     this stage's input is still the vocabulary)
  stage materialize  nodes/edges snapshots partitioned by graph_id
  stage metrics      per-partition lineage rows per stage → metrics table

Every stage commits through GraphStore and records itself in the manifest
(``lineage.run_stage``); ``run()`` skips stages the manifest records, so a
killed job resumes idempotently (S9 semantics, ``auto_processor.py:828-887``).
Stages read their input inside their own compute and lineage and counts come
from parquet footers, so a resume that runs no stage runs no Spark job.
"""

from __future__ import annotations

from functools import cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import canonicalize as C
from ..operators import extract as X
from ..operators import graph_build as GB
from ..operators import link as L
from ..sources.graph_store import GraphStore
from .lineage import PipelineResult, lineage_rows, run_stage, write_lineage


def run(
    spark: SparkSession,
    docs: DataFrame,
    store: GraphStore,
    graph_id: str = "kg_main",
    run_id: str = "run0",
    enable_lsh_canonicalization: bool = True,
    bucketed_query_tables: bool = True,
) -> PipelineResult:
    """Build (or resume) one graph. ``counts`` holds the rows of triples,
    mentions and this graph's nodes and edges. Only a run in which some stage
    ran rewrites ``metrics``: one LINEAGE_SCHEMA row per (stage, write
    partition), ``partition_id`` being the task that wrote the file."""
    from ..operators import retrieval as R

    res = PipelineResult(run_id=run_id)
    # each table is read (one schema job) once, after the stage that commits
    # it: no stage of this run rewrites a table that a later stage reads
    read = cache(store.read)

    def snapshot(table: str):
        return lambda df: store.write_snapshot(table, df)

    def graph_table(table: str) -> DataFrame:
        return read(table).filter(F.col("graph_id") == graph_id)

    # --- extract / resolve ------------------------------------------------------
    run_stage(store, res, "extract", graph_id,
              lambda: X.extract_raw(X.explode_spans(docs)),
              snapshot("raw_extract"))
    run_stage(store, res, "resolve_triples", graph_id,
              lambda: X.resolve_triples(spark, read("raw_extract")),
              snapshot("triples"))
    run_stage(store, res, "resolve_mentions", graph_id,
              lambda: X.resolve_mentions(spark, read("raw_extract")),
              snapshot("mentions"))

    # --- canonicalize ------------------------------------------------------------
    def compute_canonical():
        """Fuzzy (MinHash-LSH + CC) canonicalization of surface forms.

        Guard: only name-like types (vocab.FUZZY_LINKABLE_TYPES) may link
        fuzzily. Everything else resolves by exact normalize_key only —
        near-identical surfaces of IPs / dates / CVE ids / numbered products
        denote DISTINCT entities (192.168.1.10 vs .11, CVE-2023-10001 vs
        10002), and the reference is explicit that IPs match by exact label
        (graph_merger.py:26-28). Pinned by
        test_canonicalize_never_links_telemetry.
        """
        from ..vocab import FUZZY_LINKABLE_TYPES

        aliases = F.broadcast(X.alias_df(spark))
        surfaces = (
            read("raw_extract")
            .select(F.explode("mentions").alias("m"))
            .select(F.col("m.surface").alias("surface"))
            .distinct()
            .join(aliases, "surface", "left")
        )
        fuzzy = surfaces.filter(
            F.col("type").isin(*FUZZY_LINKABLE_TYPES)
        ).select("surface")
        if enable_lsh_canonicalization:
            # candidates from BOTH linkers (north star: alias dictionary +
            # embedding similarity + MinHash-LSH): LSH catches shared-shingle
            # variants, embedding cosine catches reorderings/contractions;
            # connected components unions them into clusters
            mh = L.minhash_link(fuzzy, jaccard_max_dist=0.55).select(
                "surface_a", "surface_b"
            )
            cos = L.cosine_link(fuzzy, threshold=0.92).select(
                "surface_a", "surface_b"
            )
            cmap = C.canonical_map_from_links(mh.unionByName(cos).distinct())
        else:
            cmap = fuzzy.select(
                "surface", F.col("surface").alias("canonical_surface")
            )
        # identity rows for telemetry/security surfaces and unlinked ones
        return (
            surfaces.select("surface")
            .join(cmap, "surface", "left")
            .select(
                "surface",
                F.coalesce("canonical_surface", "surface").alias("canonical_surface"),
            )
        )

    run_stage(store, res, "canonicalize", graph_id, compute_canonical,
              snapshot("canonical_map"))

    # --- materialize --------------------------------------------------------------
    run_stage(store, res, "materialize", graph_id,
              lambda: (GB.semantic_nodes(read("mentions"), graph_id),
                       GB.semantic_edges(read("triples"), graph_id)),
              lambda graph: store.store_graph(*graph))

    # --- entity index (fulltext parity) ----------------------------------------
    # Materialize-time token inverted index over node labels (the Neo4j
    # fulltext index the reference creates at startup, neo4j_service.py:38-53):
    # entity_search probes prune to one (graph_id, tok_prefix) partition
    # instead of scanning nodes. Incremental: only THIS graph's index
    # partition is committed (same partition-scoped protocol as nodes/edges),
    # other graphs' index partitions are carried by manifest reference.
    run_stage(store, res, "entity_index", graph_id,
              lambda: graph_table("nodes"),
              lambda df: R.update_entity_index(store, df, graph_id))

    # --- bucketize (default-on; disable for one-shot graphs) ---------------------
    # Query-side acceleration: nodes bucketed+sorted on node_id, edges on src,
    # so every downstream edges⋈nodes endpoint join (J1 shape — detectors,
    # templates) plans as a co-located SortMergeJoin with ZERO Exchange
    # (pinned by test_bucketed_join_no_exchange over pipeline output).
    if bucketed_query_tables:
        from ..operators import bucketing as B

        specs = {  # table → (catalog name, path, bucket columns)
            t: (f"{graph_id}_{t}_bucketed", f"{store.root}/bucketed/{graph_id}_{t}", [col])
            for t, col in (("nodes", "node_id"), ("edges", "src"))
        }

        def write_bucketed(frames):
            for t, (name, path, cols) in specs.items():
                B.write_bucketed(frames[t], name, cols, 16, path=path)

        run_stage(store, res, "bucketize", graph_id,
                  lambda: {t: graph_table(t) for t in specs}, write_bucketed)
        # bucket metadata is per-session catalog state: a resume re-declares
        # the spec over this warehouse's files, zero data writes
        for name, path, cols in specs.values():
            B.register_bucketed(spark, name, path, cols, 16)

    # --- counts and lineage, from the committed files' footers --------------------
    lineage = {
        table: lineage_rows(store, run_id, stage, table, gid)
        for stage, table, gid in (
            ("extract", "raw_extract", None),
            ("resolve_triples", "triples", None),
            ("resolve_mentions", "mentions", None),
            ("materialize_nodes", "nodes", graph_id),
            ("materialize_edges", "edges", graph_id),
        )
    }
    res.counts = {t: sum(r[-1] for r in lineage[t])
                  for t in ("triples", "mentions", "nodes", "edges")}
    if res.stages_run:
        write_lineage(store, "metrics", [r for rows in lineage.values() for r in rows])
    return res


def run_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    store: GraphStore,
    graph_id: str = "kg_main",
    run_id: str = "inc0",
) -> PipelineResult:
    """Incremental KG construction: extract ONLY the new documents and fold
    them into the existing graph — the 10^12-doc reality where reprocessing
    the corpus per batch is impossible.

    Exactness: semantic_nodes is a pure function of the distinct entity and
    semantic_edges a pure function of the triple (edge_id embeds doc_id), so
    union + dedup-by-natural-key equals a from-scratch run over the combined
    corpus (pinned by test_incremental_equals_from_scratch). Work is
    O(new docs) for extraction plus O(graph partition) for the commit — the
    partition-scoped store rewrites only this graph_id (Iceberg would append
    files instead of rewriting the partition; same call site).

    Re-running the same run_id is a no-op (manifest guard); per-run triple /
    mention snapshots keep lineage per increment, and ``counts`` come from
    their footers."""
    from ..operators import retrieval as R

    res = PipelineResult(run_id=run_id)
    triples_t, mentions_t = f"triples_{run_id}", f"mentions_{run_id}"

    # WHOLE-row dedup, not key-column dedup: node/edge rows are pure
    # functions of the entity/triple, so identical rows are true re-unions
    # (doc seen in both batches) while rows that merely collide in the
    # 48-bit edge_id / node_id hash differ in other columns and must BOTH
    # survive — exactly what a from-scratch run keeps. Map-typed columns
    # (props) can't be dedup keys; they too are pure functions of the
    # remaining columns, so dropping on the non-map set is equivalent.
    def fold(table: str, new: DataFrame) -> DataFrame:
        old = store.read_partition(table, graph_id) if store.exists(table) else None
        if old is None:
            return new
        both = old.unionByName(new, allowMissingColumns=True)
        return both.dropDuplicates([
            f.name for f in both.schema.fields
            if not isinstance(f.dataType, T.MapType)
        ])

    def compute():
        raw = X.extract_raw(X.explode_spans(new_docs))
        store.write_snapshot(triples_t, X.resolve_triples(spark, raw))
        store.write_snapshot(mentions_t, X.resolve_mentions(spark, raw))
        return (
            fold("nodes", GB.semantic_nodes(store.read(mentions_t), graph_id)),
            fold("edges", GB.semantic_edges(store.read(triples_t), graph_id)),
        )

    def write(graph):
        store.store_graph(*graph)
        # keep the fulltext index consistent with the folded-in nodes (same
        # invariant as run()'s entity_index stage: index == f(current partition))
        R.refresh_entity_index(store, graph_id)
        write_lineage(store, f"metrics_{run_id}",
                      lineage_rows(store, run_id, "incremental_triples", triples_t))

    run_stage(store, res, "incremental", f"{graph_id}::{run_id}", compute, write)
    res.counts = {
        "new_triples": sum(n for _, n in store.file_rows(triples_t)),
        "new_mentions": sum(n for _, n in store.file_rows(mentions_t)),
    }
    return res


def run_full(
    spark: SparkSession,
    docs: DataFrame,
    logs: DataFrame,
    store: GraphStore,
    run_id: str = "run0",
    semantic_graph_id: str = "kg_semantic",
    telemetry_graph_id: str = "kg_telemetry",
    merged_graph_id: str = "kg_merged",
) -> PipelineResult:
    """The reference's full upload-csv + merge lifecycle (SURVEY.md §3.1 +
    graph_merger): semantic KG from documents, telemetry KG from network
    logs, cross-source MERGE with provenance, all checkpointed/resumable.

    Returns the semantic PipelineResult augmented with merge stats in
    ``counts`` (A20)."""
    from ..operators import network as N
    from ..operators import retrieval as R

    res = run(spark, docs, store, graph_id=semantic_graph_id, run_id=run_id,
              enable_lsh_canonicalization=False)

    def compute_telemetry():
        conns = N.score_connections(N.parse_logs(logs))
        return (GB.telemetry_nodes(conns, telemetry_graph_id),
                GB.telemetry_edges(conns, telemetry_graph_id))

    def write_telemetry(graph):
        store.store_graph(*graph)
        R.refresh_entity_index(store, telemetry_graph_id)

    run_stage(store, res, "telemetry", telemetry_graph_id, compute_telemetry,
              write_telemetry)

    def compute_merge():
        nodes, edges = store.read("nodes"), store.read("edges")
        sem = F.col("graph_id") == semantic_graph_id
        tel = F.col("graph_id") == telemetry_graph_id
        return GB.merge_graphs(nodes.filter(sem), edges.filter(sem),
                               nodes.filter(tel), edges.filter(tel),
                               merged_graph_id)

    def write_merge(merged):
        mn, me, stats = merged
        store.store_graph(mn, me)
        R.refresh_entity_index(store, merged_graph_id)
        store.write_snapshot("merge_stats", stats)

    run_stage(store, res, "merge", merged_graph_id, compute_merge, write_merge)

    # a few rows, read with pyarrow: a full-skip resume runs no Spark job
    stats = pq.read_table(store._snapshot_path("merge_stats", store.current_snapshot("merge_stats")))
    res.counts.update({f"merge_{r['stat']}": r["value"] for r in stats.to_pylist()})
    return res
