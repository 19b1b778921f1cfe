"""GraphStore snapshot/MERGE semantics + pipeline checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark import synth
from knowledge_graph_rag_spark.plans import pipeline
from knowledge_graph_rag_spark.sources.graph_store import GraphStore


@pytest.fixture()
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "warehouse"))


def _mini_nodes(spark, gid, rows):
    return spark.createDataFrame(
        [(gid, nid, lbl, typ) for nid, lbl, typ in rows],
        "graph_id string, node_id string, label string, type string",
    ).withColumn("score", F.lit(None).cast("double"))


def _mini_edges(spark, gid, rows):
    return spark.createDataFrame(
        [(gid, f"e{i}", s, d, r) for i, (s, d, r) in enumerate(rows)],
        "graph_id string, edge_id string, src string, dst string, rel_type string",
    )


def test_snapshot_roundtrip_and_list(spark, store):
    n = _mini_nodes(spark, "g1", [("a", "A", "Person")])
    e = _mini_edges(spark, "g1", [("a", "a", "KNOWS")])
    store.store_graph(n, e)
    assert store.list_graphs() == ["g1"]
    got_n, got_e = store.get_graph("g1")
    assert got_n.count() == 1 and got_e.count() == 1


def test_store_graph_idempotent(spark, store):
    n = _mini_nodes(spark, "g1", [("a", "A", "Person")])
    e = _mini_edges(spark, "g1", [("a", "a", "KNOWS")])
    store.store_graph(n, e)
    store.store_graph(n, e)  # re-run: same graph_id replaced, not duplicated
    assert store.read("nodes").count() == 1


def test_store_graph_rerun_with_empty_edges_drops_stale_partition(spark, store):
    """Idempotency across tables: re-running a graph whose new edges frame is
    empty must drop the stale edges partition from the manifest, not leave it
    referenced (ADVICE r02)."""
    n = _mini_nodes(spark, "g1", [("a", "A", "Person")])
    e = _mini_edges(spark, "g1", [("a", "a", "KNOWS")])
    store.store_graph(n, e)
    # untouched sibling graph must survive both commits
    store.store_graph(
        _mini_nodes(spark, "g2", [("b", "B", "Person")]),
        _mini_edges(spark, "g2", [("b", "b", "KNOWS")]),
    )
    assert store.read("edges").filter("graph_id = 'g1'").count() == 1
    store.store_graph(n, _mini_edges(spark, "g1", []))  # re-run: no edges now
    assert store.read("edges").filter("graph_id = 'g1'").count() == 0
    assert store.read("edges").filter("graph_id = 'g2'").count() == 1
    assert store.read("nodes").filter("graph_id = 'g1'").count() == 1


def test_manifest_less_graph_snapshot_refused(spark, store):
    """A graph table whose committed snapshot has no partition manifest (a
    whole-dir write_snapshot) is refused by every graph-only method, and
    nothing is committed: a partition commit over it would drop every graph
    the snapshot holds from later reads."""
    store.write_snapshot("nodes", _mini_nodes(spark, "g_old", [("x", "X", "Person")]))
    snap = store.current_snapshot("nodes")
    n = _mini_nodes(spark, "g_new", [("y", "Y", "Person")])
    e = _mini_edges(spark, "g_new", [("y", "y", "KNOWS")])
    for call in (
        lambda: store.store_graph(n, e),
        lambda: store.store_graph_merge(n, e, "g_new"),
        lambda: store.read_partition("nodes", "g_old"),
        lambda: store.file_rows("nodes", "g_old"),
        store.list_graphs,
        lambda: store.delete_graph("g_old"),
        lambda: store.compact_partition("nodes", "g_old"),
    ):
        with pytest.raises(ValueError, match="table nodes"):
            call()
    assert store.current_snapshot("nodes") == snap
    assert not store.exists("edges")
    assert store.read("nodes").count() == 1


def test_merge_upsert_keep_existing_label(spark, store):
    """S11: on-match keep existing label/type, overwrite value props
    (neo4j_service.py:132-141)."""
    n1 = _mini_nodes(spark, "g1", [("a", "Old Label", "Person")]).withColumn(
        "score", F.lit(1.0)
    )
    store.store_graph(n1, _mini_edges(spark, "g1", [("a", "a", "KNOWS")]))
    n2 = _mini_nodes(spark, "g1", [("a", "New Label", "Device"), ("b", "B", "Port")]).withColumn(
        "score", F.lit(2.0)
    )
    store.store_graph_merge(n2, _mini_edges(spark, "g1", [("a", "b", "USES_PORT")]), "g1")
    rows = {r.node_id: r for r in store.read("nodes").collect()}
    assert rows["a"].label == "Old Label" and rows["a"].type == "Person"
    assert rows["a"].score == 2.0  # value prop overwritten by incoming
    assert rows["b"].label == "B"
    edges = {(r.src, r.dst, r.rel_type) for r in store.read("edges").collect()}
    assert edges == {("a", "a", "KNOWS"), ("a", "b", "USES_PORT")}


def _data_files(store, table):
    import os

    out = {}
    data = os.path.join(store.root, table, "data")
    for dirpath, _, files in os.walk(data):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getmtime(p)
    return out


def test_merge_rewrites_only_affected_partition(spark, store):
    """Partition-scoped commits: a MERGE into g1 on a 2-graph warehouse must
    not touch g2's data files (the 100 TB contract — Iceberg
    overwritePartitions semantics)."""
    for gid in ("g1", "g2"):
        store.store_graph(
            _mini_nodes(spark, gid, [(f"{gid}-a", "A", "Person")]),
            _mini_edges(spark, gid, [(f"{gid}-a", f"{gid}-a", "KNOWS")]),
        )
    before = {
        t: {p for p in _data_files(store, t) if "graph_id=g2" in p}
        for t in ("nodes", "edges")
    }
    store.store_graph_merge(
        _mini_nodes(spark, "g1", [("g1-b", "B", "Port")]),
        _mini_edges(spark, "g1", [("g1-a", "g1-b", "USES_PORT")]),
        "g1",
    )
    after = {
        t: {p for p in _data_files(store, t) if "graph_id=g2" in p}
        for t in ("nodes", "edges")
    }
    assert before == after  # g2's physical files untouched
    # and the merge is visible
    assert store.read("nodes").filter("graph_id = 'g1'").count() == 2
    assert store.read("nodes").filter("graph_id = 'g2'").count() == 1


def test_delete_graph_is_manifest_only(spark, store):
    store.store_graph(
        _mini_nodes(spark, "g1", [("a", "A", "Person")]),
        _mini_edges(spark, "g1", [("a", "a", "KNOWS")]),
    )
    store.store_graph(
        _mini_nodes(spark, "g2", [("b", "B", "Person")]),
        _mini_edges(spark, "g2", [("b", "b", "KNOWS")]),
    )
    files_before = _data_files(store, "nodes")
    store.delete_graph("g1")
    assert _data_files(store, "nodes") == files_before  # zero data writes
    assert store.list_graphs() == ["g2"]


def test_commit_retry_after_crashed_write(spark, store):
    """A commit that died after moving version dirs but before _COMMITTED
    must not wedge the retry (ENOTEMPTY on rename): the unreferenced garbage
    dir is replaced."""
    import os

    n = _mini_nodes(spark, "g1", [("a", "A", "Person")])
    e = _mini_edges(spark, "g1", [("a", "a", "KNOWS")])
    store.store_graph(n, e)
    # simulate a crashed attempt at the NEXT snap number: orphan version dir
    # with no committed manifest referencing it
    next_snap = store.current_snapshot("nodes") + 1
    orphan = os.path.join(store.root, "nodes", "data", "graph_id=g1",
                          f"v={next_snap}")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "garbage.parquet"), "w") as f:
        f.write("not parquet")
    # retry must succeed and the committed data must be the retried write's
    store.store_graph(
        _mini_nodes(spark, "g1", [("a", "A-retried", "Person")]), e
    )
    assert store.read("nodes").first().label == "A-retried"


def test_graph_id_with_special_chars(spark, store):
    """Hive-escaped partition dir names round-trip: manifest keys are the
    UNESCAPED graph_id, so merge/delete/list address the same partition."""
    gid = "tenant:a/b c"
    store.store_graph(
        _mini_nodes(spark, gid, [("x", "X", "Person")]),
        _mini_edges(spark, gid, [("x", "x", "KNOWS")]),
    )
    assert store.list_graphs() == [gid]
    store.store_graph_merge(
        _mini_nodes(spark, gid, [("y", "Y", "Port")]),
        _mini_edges(spark, gid, [("x", "y", "USES_PORT")]),
        gid,
    )
    assert store.read("nodes").filter(F.col("graph_id") == gid).count() == 2
    store.delete_graph(gid)
    assert store.list_graphs() == []


def test_vacuum_expires_unreferenced_versions(spark, store):
    """vacuum removes version dirs no surviving snapshot references, keeps
    everything the retained snapshots still point at, and current reads are
    unchanged."""
    n = _mini_nodes(spark, "g1", [("a", "A", "Person")])
    e = _mini_edges(spark, "g1", [("a", "a", "KNOWS")])
    store.store_graph(n, e)
    for i in range(3):  # three rewrites of g1 → three superseded versions
        store.store_graph(
            _mini_nodes(spark, "g1", [("a", f"A{i}", "Person")]), e
        )
    store.store_graph(  # untouched second graph must survive
        _mini_nodes(spark, "g2", [("b", "B", "Person")]),
        _mini_edges(spark, "g2", [("b", "b", "KNOWS")]),
    )
    before = store.read("nodes").collect()
    deleted = store.vacuum("nodes", keep_last=1)
    assert deleted and all("graph_id=g1" in d for d in deleted)
    after = store.read("nodes").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert store.read("nodes").filter("graph_id = 'g2'").count() == 1
    # old snapshot dirs are gone; exactly keep_last remain
    assert len(store._snapshots("nodes")) == 1


def test_compact_partition(spark, store):
    """Compaction rewrites one partition into few files with identical
    content; other partitions' files untouched."""
    import os

    for gid in ("g1", "g2"):
        for i in range(3):  # several commits → several files per partition
            store.store_graph_merge(
                _mini_nodes(spark, gid, [(f"{gid}-n{i}", f"L{i}", "Person")]),
                _mini_edges(spark, gid, [(f"{gid}-n{i}", f"{gid}-n{i}", "KNOWS")]),
                gid,
            )
    before_rows = {tuple(r) for r in store.read("nodes").collect()}
    g2_files = {p for p in _data_files(store, "nodes") if "graph_id=g2" in p}
    store.compact_partition("nodes", "g1", sort_within=("node_id",))
    after_rows = {tuple(r) for r in store.read("nodes").collect()}
    assert after_rows == before_rows
    assert {p for p in _data_files(store, "nodes") if "graph_id=g2" in p} == g2_files
    # current g1 version is a single data file
    manifest = store._manifest("nodes", store.current_snapshot("nodes"))
    cur = os.path.join(store.root, "nodes", "data", manifest["partitions"]["g1"])
    parqs = [f for f in os.listdir(cur) if f.endswith(".parquet")]
    assert len(parqs) == 1


def test_merge_column_wise_coalesce(spark, store):
    """Neo4j `SET n += props`: an incoming NULL prop must not clobber an
    existing non-null value; incoming non-null wins."""
    n1 = _mini_nodes(spark, "g1", [("a", "Label A", "Person")]).withColumn(
        "score", F.lit(7.0)
    )
    store.store_graph(n1, _mini_edges(spark, "g1", [("a", "a", "KNOWS")]))
    n2 = _mini_nodes(spark, "g1", [("a", None, "Person")])  # score stays null
    store.store_graph_merge(
        n2, _mini_edges(spark, "g1", [("a", "a", "KNOWS")]), "g1"
    )
    row = store.read("nodes").filter("node_id = 'a'").first()
    assert row.score == 7.0  # null incoming did NOT overwrite
    assert row.label == "Label A"  # null incoming label → keep existing


def _rows_by_id(df):
    """node_id → row as a dict, with map columns as sorted item tuples so
    rows compare and hash."""
    return {
        r.node_id: {k: tuple(sorted(v.items())) if isinstance(v, dict) else v
                    for k, v in r.asDict().items()}
        for r in df.collect()
    }


def test_merge_into_pipeline_graph(spark, store):
    """MERGE into a graph that pipeline.run built (nodes carry
    ``props: map<string,string>``): the docstring's rules hold for every
    column, props included, every node the frame does not name comes out
    unchanged, and the result does not depend on the shuffle partition
    count."""
    docs = synth.documents_df(spark, 40)
    prev, results = spark.conf.get("spark.sql.shuffle.partitions"), []
    for parts in ("1", "8"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            st = GraphStore(spark, f"{store.root}_{parts}")
            pipeline.run(spark, docs, st, graph_id="kg", run_id="r1",
                         enable_lsh_canonicalization=False,
                         bucketed_query_tables=False)
            before = _rows_by_id(st.read_partition("nodes", "kg"))
            sec = sorted(n for n, r in before.items() if r["severity"] is not None)
            a, b = sec[0], sec[1]
            assert before[a]["props"] is None and before[a]["confidence"] is not None
            inc = spark.createDataFrame(
                [("kg", "zz_new", "New Node", "Person", 0.5, None, {"k": "n"}),
                 ("kg", a, "Renamed", "Device", 0.95, None, {"k": "a"}),
                 ("kg", b, None, None, 0.25, "low", None)],
                "graph_id string, node_id string, label string, type string, "
                "confidence double, severity string, props map<string,string>",
            )
            no_edges = spark.createDataFrame(
                [], "graph_id string, edge_id string, src string, dst string, "
                    "rel_type string")
            st.store_graph_merge(inc, no_edges, "kg")
            # a second MERGE with a null props keeps the first one's value
            st.store_graph_merge(
                inc.filter(F.col("node_id") == a).withColumn(
                    "props", F.lit(None).cast("map<string,string>")),
                no_edges, "kg",
            )
            after = _rows_by_id(st.read_partition("nodes", "kg"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert set(after) == set(before) | {"zz_new"}
        # on-create: the incoming row
        assert (after["zz_new"]["label"], after["zz_new"]["type"],
                after["zz_new"]["props"]) == ("New Node", "Person", (("k", "n"),))
        # on-match: existing label/type kept; non-null incoming value wins,
        # existing value kept where the incoming one is null
        assert (after[a]["label"], after[a]["type"]) == (
            before[a]["label"], before[a]["type"])
        assert after[a]["confidence"] == 0.95 and after[a]["props"] == (("k", "a"),)
        assert after[a]["severity"] == before[a]["severity"]
        assert (after[b]["label"], after[b]["type"]) == (
            before[b]["label"], before[b]["type"])
        assert (after[b]["confidence"], after[b]["severity"]) == (0.25, "low")
        assert after[b]["props"] is None
        for nid in set(before) - {a, b}:
            assert after[nid] == before[nid], nid
        results.append(after)
    assert results[0] == results[1]


def test_delete_graph(spark, store):
    store.store_graph(
        _mini_nodes(spark, "g1", [("a", "A", "Person")]),
        _mini_edges(spark, "g1", [("a", "a", "KNOWS")]),
    )
    store.store_graph(
        _mini_nodes(spark, "g2", [("b", "B", "Person")]),
        _mini_edges(spark, "g2", [("b", "b", "KNOWS")]),
    )
    store.delete_graph("g1")
    assert store.list_graphs() == ["g2"]


def test_pipeline_run_and_resume(spark, store, count_jobs):
    docs = synth.documents_df(spark, 40)
    res1 = pipeline.run(spark, docs, store, graph_id="kg", run_id="r1",
                        enable_lsh_canonicalization=False)
    assert res1.stages_run and not res1.stages_skipped
    nodes1 = store.read("nodes")
    triples1 = store.read("triples")
    c_nodes, c_triples = nodes1.count(), triples1.count()
    assert c_nodes > 0 and c_triples > 0
    assert (res1.counts["nodes"], res1.counts["triples"]) == (c_nodes, c_triples)
    metrics_snap = store.current_snapshot("metrics")

    # second run resumes: every stage skipped, outputs identical, and it
    # neither runs a Spark job nor re-commits lineage under its own run_id
    with count_jobs() as jobs:
        res2 = pipeline.run(spark, docs, store, graph_id="kg", run_id="r2",
                            enable_lsh_canonicalization=False)
    assert not res2.stages_run
    assert set(res2.stages_skipped) >= {"extract", "resolve_triples", "materialize"}
    assert jobs == []
    assert res2.counts == res1.counts
    assert store.current_snapshot("metrics") == metrics_snap
    assert store.read("nodes").count() == c_nodes
    assert store.read("triples").count() == c_triples


def test_bucketed_tables_follow_the_resumed_warehouse(spark, tmp_path, count_jobs):
    """The ``<graph_id>_{nodes,edges}_bucketed`` catalog tables are session
    state named by graph_id alone: resuming warehouse B after warehouse A
    built the same graph_id points them back at B's files."""
    wh_b = GraphStore(spark, str(tmp_path / "wh_b"))
    wh_a = GraphStore(spark, str(tmp_path / "wh_a"))
    docs_b, docs_a = synth.documents_df(spark, 20), synth.documents_df(spark, 40)
    try:
        pipeline.run(spark, docs_b, wh_b, graph_id="g", run_id="b1",
                     enable_lsh_canonicalization=False)
        pipeline.run(spark, docs_a, wh_a, graph_id="g", run_id="a1",
                     enable_lsh_canonicalization=False)
        # re-declaring the tables at B's files reads their schema from a
        # footer (what a new session does on resume): no job
        with count_jobs() as jobs:
            res = pipeline.run(spark, docs_b, wh_b, graph_id="g", run_id="b2",
                               enable_lsh_canonicalization=False)
        assert not res.stages_run and jobs == []
        # A's graph differs from B's, so a table left at A's files shows
        assert wh_a.read("nodes").count() != wh_b.read("nodes").count()
        for table in ("nodes", "edges"):
            want = wh_b.read_partition(table, "g")
            got = spark.table(f"g_{table}_bucketed").select(*want.columns)
            assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
        # once they point at B, a resume of B leaves them be: no job
        with count_jobs() as jobs:
            pipeline.run(spark, docs_b, wh_b, graph_id="g", run_id="b3",
                         enable_lsh_canonicalization=False)
        assert jobs == []
    finally:
        spark.sql("DROP TABLE IF EXISTS g_nodes_bucketed")
        spark.sql("DROP TABLE IF EXISTS g_edges_bucketed")


def test_pipeline_resume_after_partial_failure(spark, store, tmp_path):
    """Kill-after-stage-k contract: mark only the extract stage done, re-run,
    and the final tables must equal an uninterrupted run's."""
    docs = synth.documents_df(spark, 30)
    # uninterrupted reference run in a second store
    ref_store = GraphStore(spark, str(tmp_path / "ref_wh"))
    pipeline.run(spark, docs, ref_store, graph_id="kg", run_id="ref",
                 enable_lsh_canonicalization=False)

    # partial run: execute extract only, then "crash"
    from knowledge_graph_rag_spark.operators import extract as X

    raw = X.extract_raw(X.explode_spans(docs))
    store.write_snapshot("raw_extract", raw)
    store.mark_done("extract", "kg", run_id="crashed")

    res = pipeline.run(spark, docs, store, graph_id="kg", run_id="resumed",
                       enable_lsh_canonicalization=False)
    assert "extract" in res.stages_skipped and "materialize" in res.stages_run

    def lineage(s):  # per-(stage, partition) rows
        return sorted(tuple(r) for r in s.read("metrics").drop("run_id").collect())

    assert lineage(store) == lineage(ref_store)

    ref_triples = {tuple(r) for r in ref_store.read("triples").collect()}
    got_triples = {tuple(r) for r in store.read("triples").collect()}
    assert got_triples == ref_triples
    ref_nodes = {r.node_id for r in ref_store.read("nodes").collect()}
    got_nodes = {r.node_id for r in store.read("nodes").collect()}
    assert got_nodes == ref_nodes


def test_incremental_equals_from_scratch(spark, store, tmp_path):
    """pipeline.run on docs[0:100] then run_incremental on docs[100:160]
    yields EXACTLY the nodes/edges of a from-scratch run over all 160 docs;
    re-running the increment is a no-op."""
    all_docs = synth.documents_df(spark, 160).cache()
    first = all_docs.filter(F.col("doc_id") < "doc00000100")
    rest = all_docs.filter(F.col("doc_id") >= "doc00000100")
    assert first.count() + rest.count() == 160

    ref_store = GraphStore(spark, str(tmp_path / "ref_wh"))
    pipeline.run(spark, all_docs, ref_store, graph_id="kg", run_id="ref",
                 enable_lsh_canonicalization=False)

    pipeline.run(spark, first, store, graph_id="kg", run_id="r1",
                 enable_lsh_canonicalization=False)
    res = pipeline.run_incremental(spark, rest, store, graph_id="kg",
                                   run_id="inc1")
    assert res.stages_run == ["incremental"] and res.counts["new_triples"] > 0

    for table in ("nodes", "edges"):
        got = {tuple(r) for r in store.read(table).collect()}
        ref = {tuple(r) for r in ref_store.read(table).collect()}
        assert got == ref, (table, len(got), len(ref))

    # idempotent re-run
    res2 = pipeline.run_incremental(spark, rest, store, graph_id="kg",
                                    run_id="inc1")
    assert res2.stages_skipped == ["incremental"]
    assert store.read("nodes").count() == ref_store.read("nodes").count()


def test_lineage_metrics_written(spark, store):
    docs = synth.documents_df(spark, 20)
    pipeline.run(spark, docs, store, graph_id="kg", run_id="r1",
                 enable_lsh_canonicalization=False)
    totals = {r.stage: r.value for r in store.read("metrics").groupBy("stage")
              .agg(F.sum("value").alias("value")).collect()}
    assert totals == {
        stage: store.read(table).count()
        for stage, table in (("extract", "raw_extract"), ("resolve_triples", "triples"),
                             ("resolve_mentions", "mentions"),
                             ("materialize_nodes", "nodes"), ("materialize_edges", "edges"))
    }


def test_run_full_merged_pipeline(spark, store, count_jobs):
    from knowledge_graph_rag_spark.operators.graph_build import find_correlations
    from knowledge_graph_rag_spark.plans.pipeline import run_full

    docs = synth.documents_df(spark, 40)
    logs = synth.network_logs_df(spark, 150)
    res = run_full(spark, docs, logs, store, run_id="rf")
    assert {"telemetry", "merge"} <= set(res.stages_run)
    assert res.counts["merge_new_correlations"] > 0
    assert sorted(store.list_graphs()) == ["kg_merged", "kg_semantic", "kg_telemetry"]

    merged_nodes, _ = store.get_graph("kg_merged", node_limit=100000)
    corr = find_correlations(merged_nodes).collect()
    assert corr and all(len(r.sources) > 1 for r in corr)

    # resume: everything skipped, no Spark job, the first run's counts
    with count_jobs() as jobs:
        res2 = run_full(spark, docs, logs, store, run_id="rf2")
    assert not res2.stages_run
    assert jobs == []
    assert res2.counts == res.counts


def test_canonicalize_never_links_telemetry(spark, store):
    """LSH canonicalization must not merge near-identical telemetry labels
    (192.168.1.10 vs .11 are distinct entities) — only semantic surfaces go
    through the fuzzy path."""
    docs = synth.documents_df(spark, 60)
    pipeline.run(spark, docs, store, graph_id="kg", run_id="r1",
                 enable_lsh_canonicalization=True)
    cmap = {r.surface: r.canonical_surface for r in store.read("canonical_map").collect()}
    # every IP-looking surface maps to itself
    import re

    ip_re = re.compile(r"^\d+\.\d+\.\d+\.\d+$")
    ips = [s for s in cmap if ip_re.match(s)]
    assert ips, "corpus should mention IPs"
    for s in ips:
        assert cmap[s] == s, (s, cmap[s])
    # surfaces of non-fuzzy-linkable types (dates, numbered products, CVE ids)
    # always map to themselves — near-identical ≠ same entity
    for s in cmap:
        if s.startswith(("January", "February", "Widget", "CVE-", "port ")):
            assert cmap[s] == s, (s, cmap[s])
    # true org aliases DO link: the Acme variants share a canonical form
    acme = {s: c for s, c in cmap.items() if s.startswith("Acme")}
    assert len(acme) > 1, "corpus should mention Acme alias variants"
    assert len(set(acme.values())) == 1, acme
    # distinct organizations never merge
    if "Globex Corp" in cmap:
        assert cmap["Globex Corp"] != cmap["Acme Corp"]


def test_snapshot_isolation_for_in_flight_readers(spark, store):
    """A reader that resolved its manifest before a new commit keeps seeing
    the OLD snapshot when it finally executes — partition versions are
    immutable and commits only add files, so concurrent read/commit never
    tears (the Iceberg reader contract)."""
    store.store_graph(
        _mini_nodes(spark, "g1", [("n1", "Alpha", "org")]),
        _mini_edges(spark, "g1", []),
    )
    old_snap = store.current_snapshot("nodes")
    reader = store.read("nodes", old_snap)          # manifest resolved NOW
    reader_lazy = reader.filter(F.col("graph_id") == "g1")  # not executed yet

    store.store_graph(                               # commit a new version
        _mini_nodes(spark, "g1", [("n1", "Alpha Renamed", "org"),
                                  ("n2", "Beta", "org")]),
        _mini_edges(spark, "g1", []),
    )
    assert store.current_snapshot("nodes") != old_snap
    # the in-flight reader still returns the pre-commit world
    got = {(r.node_id, r.label) for r in reader_lazy.collect()}
    assert got == {("n1", "Alpha")}
    # and a fresh read sees the new one
    now = {(r.node_id, r.label) for r in store.read("nodes").collect()}
    assert now == {("n1", "Alpha Renamed"), ("n2", "Beta")}
