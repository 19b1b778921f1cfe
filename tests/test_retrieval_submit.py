"""Retrieval engine queries (§3.2) + the spark-submit job entry point."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark import synth
from knowledge_graph_rag_spark.operators import extract as X
from knowledge_graph_rag_spark.operators import graph_build as GB
from knowledge_graph_rag_spark.operators import retrieval as R


@pytest.fixture(scope="module")
def kg(spark):
    raw = X.extract_raw(X.explode_spans(synth.documents_df(spark, 120))).cache()
    nodes = GB.semantic_nodes(X.resolve_mentions(spark, raw), "kg").cache()
    edges = GB.semantic_edges(X.resolve_triples(spark, raw), "kg").cache()
    nodes.count(), edges.count()
    return nodes, edges


def test_bm25_topk(spark):
    """Okapi BM25 retrieval: docs without query terms never appear; a doc
    matching the RARE query term outranks one matching only the ubiquitous
    term (idf); score matches a python reference to 1e-9 before rounding."""
    import math

    from knowledge_graph_rag_spark.operators.retrieval import bm25_topk

    rows = [
        ("d1", "kernel panic trace kernel dump analysis"),
        ("d2", "analysis of quarterly revenue and analysis of costs"),
        ("d3", "gardening tips for growing tomatoes in shade"),
        ("d4", "analysis analysis analysis analysis analysis analysis"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = bm25_topk(df, "kernel analysis", k=10)
    got = {r.id: (r.score, r.rank) for r in out.collect()}
    assert "d3" not in got  # no query term
    assert got["d1"][1] == 1  # only doc with the rare term 'kernel'

    # python reference for d1
    texts = {d: t.lower().split() for d, t in rows}
    N = len(rows)
    avgdl = sum(len(w) for w in texts.values()) / N
    k1, b = 1.2, 0.75

    def idf(term):
        dfreq = sum(1 for w in texts.values() if term in w)
        return math.log(1 + (N - dfreq + 0.5) / (dfreq + 0.5))

    def score(d):
        dl = len(texts[d])
        s = 0.0
        for term in ("kernel", "analysis"):
            tf = texts[d].count(term)
            if tf:
                s += idf(term) * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * dl / avgdl)
                )
        return round(s, 4)

    for d in ("d1", "d2", "d4"):
        assert abs(got[d][0] - score(d)) < 1e-9, (d, got[d][0], score(d))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_topk(df, "!!!")


def test_entity_search(kg):
    nodes, _ = kg
    hits = R.entity_search(nodes, "acme")
    rows = hits.collect()
    assert rows and all("acme" in r.label.lower() for r in rows)


def test_node_info(kg):
    nodes, edges = kg
    some = R.entity_search(nodes, "acme", 1).collect()[0]
    node, neighbors = R.node_info(nodes, edges, some.node_id)
    assert node.count() == 1
    nb = neighbors.collect()
    assert nb and all(r.direction in ("in", "out") for r in nb)
    assert all(r.neighbor_label is not None for r in nb)


def test_paths_between(spark):
    """The first 10 distinct 1..2-hop paths over all candidate pairs, by
    (hops, path), with the smallest rels of each path's parallel edges —
    equal to a brute force over a graph where parallel edges repeat paths
    and more than 10 paths exist, at 1 and 8 shuffle partitions."""
    from collections import defaultdict

    nodes = spark.createDataFrame(
        [("a1", "Alpha One", "T", "C"), ("a2", "Alpha Two", "T", "C"),
         ("b1", "Beta One", "T", "C")]
        + [(f"m{k}", f"Mid {k}", "T", "C") for k in range(8)],
        "node_id string, label string, type string, entity_class string",
    )
    edges = [("a1", "b1", r) for r in ("R2", "R0", "R1")]      # parallel 1-hop
    edges += [("b1", "a2", "R3")]
    for k in range(8):
        edges += [("a1", f"m{k}", "S1"), ("a1", f"m{k}", "S0"),  # parallel hops
                  (f"m{k}", "b1", "T"), ("a2", f"m{k}", "U")]
    edf = spark.createDataFrame(edges, "src string, dst string, rel_type string")

    und = defaultdict(list)
    for s_, d, r in edges:
        und[s_].append((d, r))
        und[d].append((s_, r))
    best = {}
    for a in ("a1", "a2"):
        for b in ("b1",):
            rows = [((a, b), (r,)) for d, r in und[a] if d == b]
            rows += [((a, m, b), (r1, r2)) for m, r1 in und[a] if m != b
                     for d, r2 in und[m] if d == b]
            for path, rels in rows:
                best[path] = min(rels, best.get(path, rels))
    assert len(best) > 10
    want = sorted((len(p) - 1, list(p), list(r)) for p, r in best.items())[:10]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            got = [(r.hops, r.path, r.rels)
                   for r in R.paths_between(nodes, edf, "Alpha", "Beta").collect()]
            assert got == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_entity_search_indexed(kg, spark, tmp_path):
    """Token-inverted-index entity search: equivalent to the contains scan on
    whole-word probes, AND semantics on multi-token queries, and the probe
    plan prunes to the needle's tok_prefix partition instead of scanning the
    whole index (the 10^12-node shape — fulltext-index parity)."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    nodes, _ = kg
    store = GraphStore(spark, str(tmp_path / "wh"))
    R.update_entity_index(store, nodes, "kg")
    index = store.read(R.ENTITY_INDEX_TABLE)

    for probe in ("acme", "springfield"):
        scan = {tuple(r) for r in R.entity_search(nodes, probe, 100).collect()}
        idx = {
            tuple(r)
            for r in R.entity_search_indexed(index, nodes, probe, 100).collect()
        }
        assert idx == scan and idx  # same hits, non-empty

    # word-prefix probe also serviced by the index
    pre = R.entity_search_indexed(index, nodes, "acm", 100).collect()
    assert pre and all("acm" in r.label.lower() for r in pre)

    # multi-token AND: every hit's label contains both words
    multi = R.entity_search_indexed(index, nodes, "Acme Corp", 100).collect()
    assert multi and all(
        "acme" in r.label.lower() and "corp" in r.label.lower() for r in multi
    )

    # plan: the index probe is partition-pruned on tok_prefix, not a full scan
    probe_plan = index.filter(
        (F.col("tok_prefix").startswith("ac")) & F.col("token").startswith("acme")
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in probe_plan
    assert "tok_prefix" in probe_plan.split("PartitionFilters")[1].splitlines()[0]


def test_entity_index_incremental_update(kg, spark, tmp_path):
    """update_entity_index commits ONE graph's index partition: a sibling
    graph's index files are untouched (manifest-carried), and probes against
    both graphs work from the same table."""
    import os

    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    nodes, _ = kg
    store = GraphStore(spark, str(tmp_path / "wh"))
    other = spark.createDataFrame(
        [("g2", "x1", "Zeta Widget", "product", "thing"),
         ("g2", "x2", "Zeta Gadget", "product", "thing"),
         ("g2", "x3", "Café Agua", "org", "name")],
        "graph_id string, node_id string, label string, type string, "
        "entity_class string",
    )
    R.update_entity_index(store, other, "g2")     # creates the table
    R.update_entity_index(store, nodes, "kg")     # incremental second graph

    def g2_files():
        out = {}
        data = os.path.join(store.root, R.ENTITY_INDEX_TABLE, "data")
        for dirpath, _, files in os.walk(data):
            if "graph_id=g2" in dirpath:
                for f in files:
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = g2_files()
    assert before
    R.update_entity_index(store, nodes, "kg")     # re-run kg only
    assert g2_files() == before                   # g2's physical files untouched

    index = store.read(R.ENTITY_INDEX_TABLE)
    zeta = R.entity_search_indexed(index, other, "zeta", 10).collect()
    assert {r.node_id for r in zeta} == {"x1", "x2"}
    acme = R.entity_search_indexed(index, nodes, "acme", 10).collect()
    assert acme and all("acme" in r.label.lower() for r in acme)

    # unicode probe: index and query tokenizers agree ((?U) on the Java side)
    cafe = R.entity_search_indexed(index, other, "café", 10).collect()
    assert {r.node_id for r in cafe} == {"x3"}

    # graph-scoped probe prunes on BOTH partition keys
    scoped = R.entity_search_indexed(index, other, "zeta", 10, graph_id="g2")
    assert {r.node_id for r in scoped.collect()} == {"x1", "x2"}
    probe_plan = index.filter(
        (F.col("graph_id") == "g2")
        & F.col("tok_prefix").startswith("ze")
        & F.col("token").startswith("zeta")
    )._jdf.queryExecution().executedPlan().toString()
    pf = probe_plan.split("PartitionFilters")[1].splitlines()[0]
    assert "graph_id" in pf and "tok_prefix" in pf

    # compaction keeps the sub-partition layout (tok_prefix lives in dir
    # names) — search is unchanged after rewrite
    store.compact_partition("entity_index", "g2", sort_within=("token",))
    index2 = store.read(R.ENTITY_INDEX_TABLE)
    assert "tok_prefix" in index2.columns
    zeta2 = R.entity_search_indexed(index2, other, "zeta", 10, graph_id="g2")
    assert {r.node_id for r in zeta2.collect()} == {"x1", "x2"}

    # delete_graph drops the derived index partition — no dangling rows
    store.store_graph(
        other, spark.createDataFrame(
            [], "graph_id string, edge_id string, src string, dst string, "
                "rel_type string")
    )
    store.delete_graph("g2")
    assert store.read(R.ENTITY_INDEX_TABLE).filter(
        F.col("graph_id") == "g2").count() == 0


def test_compact_partition_keeps_sub_partitions(kg, spark, tmp_path):
    """compact_partition reads a table's sub-partition columns off its
    version dir, so compacting the entity index with no arguments keeps
    ``tok_prefix`` in the dir names: the whole table still reads, and
    indexed search returns what it did before."""
    import os

    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    nodes, _ = kg
    store = GraphStore(spark, str(tmp_path / "wh"))
    R.update_entity_index(store, nodes, "kg")
    R.update_entity_index(store, nodes.withColumn("graph_id", F.lit("g2")), "g2")

    def search(probe):
        index = store.read(R.ENTITY_INDEX_TABLE)
        return sorted(tuple(r) for r in R.entity_search_indexed(
            index, nodes, probe, 100, graph_id="kg").collect())

    before_rows = sorted(tuple(r) for r in store.read(R.ENTITY_INDEX_TABLE).collect())
    before = {p: search(p) for p in ("acme", "springfield", "acme corp")}
    assert all(before.values())
    store.compact_partition(R.ENTITY_INDEX_TABLE, "kg")
    manifest = store._manifest(R.ENTITY_INDEX_TABLE,
                               store.current_snapshot(R.ENTITY_INDEX_TABLE))
    vdir = os.path.join(store.root, R.ENTITY_INDEX_TABLE, "data",
                        manifest["partitions"]["kg"])
    subdirs = os.listdir(vdir)
    assert subdirs and all(d.startswith("tok_prefix=") for d in subdirs)
    after_rows = sorted(tuple(r) for r in store.read(R.ENTITY_INDEX_TABLE).collect())
    assert after_rows == before_rows
    assert {p: search(p) for p in before} == before


def test_entity_search_indexed_scopes_nodes_side(spark, tmp_path):
    """node_ids are graph-agnostic content hashes, so the same entity in two
    graphs shares a node_id — a graph-scoped search must filter the NODES
    side too, or the semi-join returns the other graph's twin row."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    schema = ("graph_id string, node_id string, label string, type string, "
              "entity_class string")
    nodes = spark.createDataFrame(
        [("gA", "h1", "Orion Probe", "product", "thing"),
         ("gB", "h1", "Orion Probe", "product", "thing"),
         ("gB", "h2", "Orion Relay", "product", "thing")],
        schema,
    )
    store = GraphStore(spark, str(tmp_path / "wh"))
    R.update_entity_index(store, nodes, "gA")
    R.update_entity_index(store, nodes, "gB")
    index = store.read(R.ENTITY_INDEX_TABLE)
    scoped = R.entity_search_indexed(index, nodes, "orion", 10, graph_id="gA")
    assert [r.node_id for r in scoped.collect()] == ["h1"]
    unscoped = R.entity_search_indexed(index, nodes, "orion", 10)
    assert {r.node_id for r in unscoped.collect()} == {"h1", "h2"}


def test_empty_index_rebuild_drops_stale_partition(spark, tmp_path):
    """A rebuild whose token frame is empty (all labels non-tokenizable)
    must DROP the graph's old index partition, not silently carry it by
    manifest reference — the invariant is index == f(current nodes)."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    schema = ("graph_id string, node_id string, label string, type string, "
              "entity_class string")
    store = GraphStore(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame(
        [("g1", "n1", "Acme Widget", "product", "thing")], schema)
    R.update_entity_index(store, v1, "g1")
    assert store.read(R.ENTITY_INDEX_TABLE).filter(
        F.col("graph_id") == "g1").count() > 0
    # re-run with only non-tokenizable labels → empty token frame
    v2 = spark.createDataFrame([("g1", "n1", "###", "product", "thing")], schema)
    R.update_entity_index(store, v2, "g1")
    assert store.read(R.ENTITY_INDEX_TABLE).filter(
        F.col("graph_id") == "g1").count() == 0


def test_incremental_update_keeps_index_consistent(spark, tmp_path):
    """run_incremental refreshes the fulltext index: after a fold-in, the
    index partition equals entity_token_index(current nodes partition)."""
    from knowledge_graph_rag_spark.plans import pipeline
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    store = GraphStore(spark, str(tmp_path / "wh"))
    pipeline.run(spark, synth.documents_df(spark, 30), store, graph_id="kg",
                 run_id="r1", enable_lsh_canonicalization=False,
                 bucketed_query_tables=False)
    new_batch = synth.documents_df(spark, 45).filter(
        F.col("doc_id") >= "doc00000030"
    )
    pipeline.run_incremental(spark, new_batch, store, graph_id="kg",
                             run_id="inc1")
    expected = {
        tuple(r)
        for r in R.entity_token_index(
            store.read_partition("nodes", "kg")
        ).collect()
    }
    actual = {
        tuple(r)
        for r in store.read(R.ENTITY_INDEX_TABLE)
        .filter(F.col("graph_id") == "kg")
        .select("graph_id", "node_id", "token", "tok_prefix")
        .collect()
    }
    assert actual == expected and actual


def test_graph_overview(kg):
    nodes, edges = kg
    rows = R.graph_overview(nodes, edges).collect()
    assert rows and rows[0]["count"] >= rows[-1]["count"]
    assert all(len(r.examples) <= 5 for r in rows)


def test_spark_submit_pyfiles_launch(tmp_path):
    """The north rule's actual launch path: `spark-submit --py-files kgrs.zip
    jobs/kg_submit.py`. The job script is copied OUTSIDE the repo so the
    engine package can only come from the zip (exactly a cluster submit)."""
    import shutil

    from jobs.make_pyfiles import build

    zip_path = build(str(tmp_path / "kgrs.zip"))
    job = tmp_path / "jobs" / "kg_submit.py"
    job.parent.mkdir()
    shutil.copy("/root/repo/jobs/kg_submit.py", job)
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit not on PATH"
    wh = str(tmp_path / "wh")
    out = subprocess.run(
        [spark_submit, "--master", "local[4]", "--py-files", zip_path,
         str(job), "--synthesize", "60", "--warehouse", wh,
         "--graph-id", "kgz", "--no-lsh"],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
    )
    assert out.returncode == 0, out.stderr[-1500:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["counts"]["triples"] > 0 and "kgz" in res["graphs"]


def test_kg_submit_job(tmp_path):
    """Drive the spark-submit entry point as a real CLI, twice (resume)."""
    wh = str(tmp_path / "wh")
    cmd = [sys.executable, "jobs/kg_submit.py", "--synthesize", "60",
           "--warehouse", wh, "--graph-id", "kgx", "--no-lsh"]
    out1 = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo",
                          timeout=420)
    assert out1.returncode == 0, out1.stderr[-800:]
    res1 = json.loads(out1.stdout.strip().splitlines()[-1])
    assert res1["counts"]["triples"] > 0 and "kgx" in res1["graphs"]
    assert "extract" in res1["stages_run"]

    out2 = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo",
                          timeout=420)
    res2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert not res2["stages_run"]  # fully resumed
    assert res2["counts"] == res1["counts"]


def test_curation_pipeline_and_resume(spark, tmp_path, count_jobs):
    """Composed training-data curation (plans/datapipe.curate): planted docs
    exercise every stage's drop rule; a second run resumes fully with the
    same counts; the metrics table carries one lineage row per stage."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    good = ("the quick brown fox jumps over the lazy dog while the "
            "patient crane waits beside the shallow river bend")
    rows = [
        ("d01", good),
        ("d02", good.replace("crane", "heron")),        # distinct enough to keep
        ("d03", "a completely different account of spark shuffle mechanics "
                "written with plain words and steady rhythm for testing"),
        ("d04", "yet another unique document describing parquet row groups "
                "and predicate pushdown in calm readable prose"),
        ("d05", "the final unique document talks about broadcast joins and "
                "adaptive query execution at some length here"),
        ("d06", good),                                   # exact dup of d01
        ("d07", good.replace("dog", "hound")),           # near dup of d01
        ("d08", "@#$% ^&*! ~~~ ++== ;;;; @#$% ^&*!"),    # symbol soup: quality drop
        ("d09", "too short"),                            # n_words < 5: quality drop
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    store = GraphStore(spark, str(tmp_path / "wh"))
    res = datapipe.curate(spark, docs, store, dataset_id="t", run_id="r1",
                          near_dup_max_dist=0.5)
    assert res.stages_run == [
        "exact_dedup", "near_dedup", "quality", "sample", "token_stats"
    ]
    assert res.counts["exact_dedup"] == 8          # d06 dropped
    assert res.counts["near_dedup"] < 8            # d07 folded into d01
    kept = {r.doc_id for r in store.read("dp_t_quality").collect()}
    assert "d08" not in kept and "d09" not in kept
    assert {"d01", "d03", "d04", "d05"} <= kept
    assert res.counts["sample"] == res.counts["quality"]  # fraction 1.0
    stats = {r.doc_id: r for r in store.read("dp_t_token_stats").collect()}
    assert set(stats) == kept
    assert all(s.ws_tokens > 0 and s.bpe_tokens >= s.ws_tokens for s in stats.values())

    metrics_snap = store.current_snapshot("dp_t_metrics")
    with count_jobs() as jobs:
        res2 = datapipe.curate(spark, docs, store, dataset_id="t", run_id="r2",
                               near_dup_max_dist=0.5)
    assert not res2.stages_run and res2.counts == res.counts
    assert jobs == []
    assert store.current_snapshot("dp_t_metrics") == metrics_snap
    metrics = store.read("dp_t_metrics").collect()
    assert {(m.stage, m.rows_out) for m in metrics} == set(
        (k, v) for k, v in res.counts.items()
    )


def test_data_submit_cli(tmp_path):
    """Drive jobs/data_submit.py as a real CLI against the sf0.001 documents
    table, twice (resume)."""
    wh = str(tmp_path / "wh")
    cmd = [sys.executable, "jobs/data_submit.py",
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--warehouse", wh, "--dataset-id", "sf0", "--sample-fraction", "0.5"]
    out1 = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo",
                          timeout=420)
    assert out1.returncode == 0, out1.stderr[-800:]
    res1 = json.loads(out1.stdout.strip().splitlines()[-1])
    assert res1["counts"]["exact_dedup"] > 0
    assert res1["counts"]["sample"] <= res1["counts"]["quality"]
    assert res1["counts"]["token_stats"] == res1["counts"]["sample"]

    out2 = subprocess.run(cmd, capture_output=True, text=True, cwd="/root/repo",
                          timeout=420)
    assert out2.returncode == 0, out2.stderr[-800:]
    res2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert not res2["stages_run"]  # fully resumed
    assert res2["counts"] == res1["counts"]


def test_curation_language_stratified_sampling(spark, tmp_path):
    """lang_fractions switches the sample stage to language-stratified
    deterministic sampling: listed languages get their own rate, the rest
    fall back to sample_fraction; membership stays a pure function of
    md5(doc_id) (re-run identical)."""
    from knowledge_graph_rag_spark.functions.text import language_id_col
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    en = ("the meeting covered plans that have not been finalized and the "
          "team agreed that further review is needed for the proposal")
    de = ("der bericht ist lang und die analyse ist nicht fertig aber das "
          "team hat die daten geprüft und der plan ist solide für heute")
    rows = [(f"en{i:03d}", en + f" item {i} " + "detail " * (i % 3))
            for i in range(40)]
    rows += [(f"de{i:03d}", de + f" punkt {i} " + "wert " * (i % 3))
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # sanity: the shared decision rule labels the two groups as intended
    langs = {r.doc_id: r.lang for r in docs.select(
        "doc_id", language_id_col(F.col("text")).alias("lang")).collect()}
    assert all(v == "en" for k, v in langs.items() if k.startswith("en"))
    assert all(v == "de" for k, v in langs.items() if k.startswith("de"))

    store = GraphStore(spark, str(tmp_path / "wh"))
    res = datapipe.curate(
        spark, docs, store, dataset_id="ls", near_dup_max_dist=0.05,
        lang_fractions={"en": 0.3, "de": 1.0},
    )
    kept = {r.doc_id for r in store.read("dp_ls_sample").collect()}
    n_en = sum(1 for d in kept if d.startswith("en"))
    n_de = sum(1 for d in kept if d.startswith("de"))
    assert n_de == res.counts["quality"] - 40  # every surviving de kept
    assert 0 < n_en < 40  # english downsampled

    # determinism: a fresh warehouse reproduces the exact same sample
    store2 = GraphStore(spark, str(tmp_path / "wh2"))
    datapipe.curate(
        spark, docs, store2, dataset_id="ls", near_dup_max_dist=0.05,
        lang_fractions={"en": 0.3, "de": 1.0},
    )
    assert {r.doc_id for r in store2.read("dp_ls_sample").collect()} == kept


def test_curation_near_dup_strategies(spark, tmp_path):
    """near_dup_strategy selects the candidate generator: simhash catches
    the planted one-word-swap near-dup like minhash; 'none' skips the stage
    (pass-through); unknown strategy raises."""
    import pytest as _pytest

    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    # long doc so a one-word swap stays within simhash Hamming ≤ 3 (the
    # regime where the 4×16-bit banding is pigeonhole-complete)
    base = ("the patient crane waits beside the shallow river bend while "
            "morning light settles on the quiet water near the old stones "
            "and the tall reeds sway gently as the slow current carries "
            "small leaves past the mossy bank toward the wooden bridge in "
            "the calm grey distance")
    rows = [
        ("d00", base),
        ("d01", base.replace("crane", "heron")),   # near-dup of d00 (H=1)
        ("d02", "a calm essay on parquet row groups and predicate pushdown "
                "written in steady unhurried prose for testing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    s1 = GraphStore(spark, str(tmp_path / "w1"))
    datapipe.curate(spark, docs, s1, dataset_id="t",
                    near_dup_strategy="simhash")
    assert {r.doc_id for r in s1.read("dp_t_near_dedup").collect()} == {
        "d00", "d02"
    }

    s2 = GraphStore(spark, str(tmp_path / "w2"))
    datapipe.curate(spark, docs, s2, dataset_id="t", near_dup_strategy="none")
    assert s2.read("dp_t_near_dedup").count() == 3

    with _pytest.raises(ValueError):
        datapipe._near_dup_drop_ids(docs, 0.2, "bogus")


def test_curation_verify_threshold_saves_false_positive(spark, tmp_path):
    """verify_threshold pipes near-dup candidates through exact-Jaccard
    confirmation before any drop. Planted false positive: a doc and its
    word-REVERSED twin have the identical simhash (bag-of-words — order
    blind), so candidate generation pairs them at Hamming 0, yet their
    word-3-gram Jaccard is exactly 0 (all-distinct words → no shared
    trigram). Without verification the twin is permanently deleted; with it,
    both survive while the TRUE near-dup (one-word swap, Jaccard ≈ 0.85) is
    still dropped — under both strategies."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    base = ("the patient crane waits beside the shallow river bend while "
            "morning light settles on the quiet water near the old stones "
            "and the tall reeds sway gently as the slow current carries "
            "small leaves past the mossy bank toward the wooden bridge in "
            "the calm grey distance")
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu amber "
             "basil cedar dahlia").split()
    rows = [
        ("d00", base),
        ("d01", base.replace("crane", "heron")),  # TRUE near-dup of d00
        ("d02", " ".join(words)),
        ("d03", " ".join(reversed(words))),       # simhash FP twin of d02
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    drops_unverified = {
        r.doc_id
        for r in datapipe._near_dup_drop_ids(docs, 0.2, "simhash").collect()
    }
    assert drops_unverified == {"d01", "d03"}  # FP twin deleted — the hazard

    drops_verified = {
        r.doc_id
        for r in datapipe._near_dup_drop_ids(
            docs, 0.2, "simhash", verify_threshold=0.5
        ).collect()
    }
    assert drops_verified == {"d01"}  # twin saved, true dup still dropped

    # minhash strategy: same knob, true near-dup still confirmed + dropped
    drops_mh = {
        r.doc_id
        for r in datapipe._near_dup_drop_ids(
            docs, 0.5, "minhash", verify_threshold=0.5
        ).collect()
    }
    assert "d01" in drops_mh and "d03" not in drops_mh

    # end-to-end: curate with the knob keeps the twin through near_dedup,
    # and the knob participates in the config fingerprint (resume with a
    # different verify setting against this dataset must refuse)
    store = GraphStore(spark, str(tmp_path / "wh"))
    datapipe.curate(spark, docs, store, dataset_id="v",
                    near_dup_strategy="simhash",
                    near_dup_verify_threshold=0.5)
    assert {r.doc_id for r in store.read("dp_v_near_dedup").collect()} == {
        "d00", "d02", "d03"
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        datapipe.curate(spark, docs, store, dataset_id="v",
                        near_dup_strategy="simhash")


def test_stream_compaction_verify_threshold(spark, tmp_path):
    """compact_stream_curation passes verify_threshold through: the simhash
    FP twin is tombstoned without verification, kept with it."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import (
        compact_stream_curation,
        read_curated,
    )

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu amber "
             "basil cedar dahlia").split()
    store = GraphStore(spark, str(tmp_path / "wh"))
    store.upsert_graph_partitions(
        "dp_fp_stream_docs",
        spark.createDataFrame(
            [("b0", "d02", " ".join(words)),
             ("b0", "d03", " ".join(reversed(words)))],
            "graph_id string, doc_id string, text string",
        ),
    )
    n = compact_stream_curation(store, "fp", near_dup_strategy="simhash")
    assert n == 1  # unverified: twin tombstoned
    n = compact_stream_curation(store, "fp", near_dup_strategy="simhash",
                                near_dup_verify_threshold=0.5)
    assert n == 0  # verified: tombstone set recomputed empty
    assert read_curated(store, "fp").count() == 2


def test_curation_refuses_mismatched_config_resume(spark, tmp_path):
    """Resume is keyed by (stage, dataset_id); changing knobs against an
    already-curated dataset must raise, not silently skip with old results."""
    import pytest as _pytest

    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    docs = spark.createDataFrame(
        [("d1", "a calm essay on parquet row groups and predicate pushdown "
                "written in steady unhurried prose")],
        "doc_id string, text string",
    )
    store = GraphStore(spark, str(tmp_path / "wh"))
    datapipe.curate(spark, docs, store, dataset_id="cfg",
                    near_dup_strategy="none")
    # same config resumes fine
    res = datapipe.curate(spark, docs, store, dataset_id="cfg",
                          near_dup_strategy="none")
    assert not res.stages_run
    # different knob → refuse
    with _pytest.raises(ValueError, match="different configuration"):
        datapipe.curate(spark, docs, store, dataset_id="cfg",
                        near_dup_strategy="simhash")


def test_curation_config_slot_edge_cases(spark, tmp_path):
    """Single config slot per dataset: a crashed zero-stage run must not
    whitelist its config forever, and legacy datasets (stages done, no
    slot) adopt the current knobs instead of bricking resume."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    docs = spark.createDataFrame(
        [("d1", "a calm essay on parquet row groups and predicate pushdown "
                "written in steady unhurried prose")],
        "doc_id string, text string",
    )
    # crashed-before-any-stage run under cfg1: only the slot exists
    store = GraphStore(spark, str(tmp_path / "w1"))
    import hashlib

    cfg1 = repr((0.2, 1.0, [], "minhash"))
    store.mark_done("dp_config", "ds", cfg_key=hashlib.md5(
        cfg1.encode()).hexdigest()[:12], config=cfg1)
    # full run under cfg2 proceeds (nothing was produced) and takes the slot
    datapipe.curate(spark, docs, store, dataset_id="ds",
                    near_dup_strategy="none")
    # resuming under cfg1 now correctly refuses (slot holds cfg2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different configuration"):
        datapipe.curate(spark, docs, store, dataset_id="ds")

    # legacy dataset: stages done, slot absent → adopt, don't brick
    store2 = GraphStore(spark, str(tmp_path / "w2"))
    datapipe.curate(spark, docs, store2, dataset_id="lg",
                    near_dup_strategy="none")
    m = store2._load_manifest()
    del m["dp_config::lg"]
    import json as _json

    with open(store2._manifest_path(), "w") as f:
        _json.dump(m, f)
    res = datapipe.curate(spark, docs, store2, dataset_id="lg",
                          near_dup_strategy="none")
    assert not res.stages_run                      # resumed
    assert store2.stage_meta("dp_config", "lg")    # slot adopted


def test_curation_decontam_and_pii_stages(spark, tmp_path):
    """Opt-in decontam + pii_scrub stages: a doc sharing n-grams with the
    benchmark frame is dropped BEFORE quality; surviving text is redacted
    (class tokens) before sampling/token stats; same-knob rerun fully
    resumes; changing knobs on a curated dataset refuses (config guard)."""
    import pytest as _pytest

    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    bench_txt = ("benchmark evaluation question about spark adaptive "
                 "execution plans and shuffle partition tuning")
    rows = [
        ("d01", "the quick brown fox jumps over the lazy dog near the "
                "river bank while herons watch from the reeds"),
        # contains a full benchmark span -> decontam drop
        ("d02", "leaked copy of the benchmark evaluation question about "
                "spark adaptive execution plans for training"),
        ("d03", "contact the maintainer at owner@example.org for any "
                "questions about this plainly written document"),
        ("d04", "a completely separate document describing parquet row "
                "groups and predicate pushdown in steady prose"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench = spark.createDataFrame(
        [("b1", bench_txt)], "doc_id string, text string"
    )
    store = GraphStore(spark, str(tmp_path / "wh"))
    res = datapipe.curate(
        spark, docs, store, dataset_id="dc", run_id="r1",
        near_dup_max_dist=0.2, benchmark=bench, decontam_ngram=3,
        pii_scrub=True,
    )
    assert res.stages_run == [
        "exact_dedup", "near_dedup", "decontam", "quality", "pii_scrub",
        "sample", "token_stats",
    ]
    decon = {r.doc_id for r in store.read("dp_dc_decontam").collect()}
    assert "d02" not in decon and {"d01", "d03", "d04"} <= decon
    scrubbed = {r.doc_id: r.text for r in store.read("dp_dc_sample").collect()}
    assert "<EMAIL>" in scrubbed["d03"]
    assert "owner@example.org" not in scrubbed["d03"]
    assert scrubbed["d01"] == dict(rows)["d01"]  # clean docs untouched
    assert set(
        r.doc_id for r in store.read("dp_dc_token_stats").collect()
    ) == set(scrubbed)

    # same-knob rerun: full resume, identical counts
    res2 = datapipe.curate(
        spark, docs, store, dataset_id="dc", run_id="r2",
        near_dup_max_dist=0.2, benchmark=bench, decontam_ngram=3,
        pii_scrub=True,
    )
    assert not res2.stages_run and res2.counts == res.counts

    # knob change on a curated dataset refuses instead of silently skipping
    with _pytest.raises(ValueError, match="different"):
        datapipe.curate(spark, docs, store, dataset_id="dc", run_id="r3",
                        near_dup_max_dist=0.2)


def test_curation_benchmark_identity_guard(spark, tmp_path):
    """The config fingerprint captures WHICH benchmark (content hash): a
    re-run with a different eval frame refuses instead of silently resuming
    with the old decontam output; same content (even re-ordered) resumes."""
    import pytest as _pytest

    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    rows = [
        ("d01", "the quick brown fox jumps over the lazy dog near the "
                "river bank while herons watch from the reeds"),
        ("d04", "a completely separate document describing parquet row "
                "groups and predicate pushdown in steady prose"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench_a = spark.createDataFrame(
        [("b1", "first benchmark question text entirely distinct alpha"),
         ("b2", "second benchmark question text entirely distinct beta")],
        "doc_id string, text string",
    )
    store = GraphStore(spark, str(tmp_path / "wh"))
    res = datapipe.curate(spark, docs, store, dataset_id="bg", run_id="r1",
                          benchmark=bench_a, decontam_ngram=3)
    assert "decontam" in res.stages_run

    # identical content, different row order -> same fingerprint, resumes
    res2 = datapipe.curate(
        spark, docs, store, dataset_id="bg", run_id="r2",
        benchmark=bench_a.orderBy(F.desc("doc_id")), decontam_ngram=3,
    )
    assert not res2.stages_run

    # different benchmark content -> refuse
    bench_b = bench_a.withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    with _pytest.raises(ValueError, match="different"):
        datapipe.curate(spark, docs, store, dataset_id="bg", run_id="r3",
                        benchmark=bench_b, decontam_ngram=3)
