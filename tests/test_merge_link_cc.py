"""Merge semantics (S11/J3), entity linking, connected components, MinHashLSH."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark import synth
from knowledge_graph_rag_spark.operators import canonicalize as C
from knowledge_graph_rag_spark.operators import extract as X
from knowledge_graph_rag_spark.operators import graph_build as GB
from knowledge_graph_rag_spark.operators import link as L
from knowledge_graph_rag_spark.operators import network as N


@pytest.fixture(scope="module")
def merged(spark):
    logs = synth.network_logs_df(spark, 400)
    conns = N.score_connections(N.parse_logs(logs))
    tn = GB.telemetry_nodes(conns, "g_tel")
    te = GB.telemetry_edges(conns, "g_tel")
    docs = synth.documents_df(spark, 80)
    raw = X.extract_raw(X.explode_spans(docs)).cache()
    sn = GB.semantic_nodes(X.resolve_mentions(spark, raw), "g_sem")
    se = GB.semantic_edges(X.resolve_triples(spark, raw), "g_sem")
    mn, me, stats = GB.merge_graphs(sn, se, tn, te, "g_merged")
    return sn, tn, mn.cache(), me.cache(), {r.stat: r.value for r in stats.collect()}


def test_merge_stats_consistent(merged):
    sn, tn, mn, me, stats = merged
    assert stats["merged_nodes"] == mn.count()
    assert stats["semantic_nodes"] + stats["telemetry_nodes"] - stats["deduplicated"] == stats["merged_nodes"]
    assert stats["new_correlations"] > 0  # IPs mentioned in text AND seen in telemetry


def test_merge_no_duplicate_link_keys(merged):
    _, _, mn, _, _ = merged
    from knowledge_graph_rag_spark.functions.net import normalize_key

    dups = (
        mn.withColumn("k", normalize_key(F.col("label"), F.col("type")))
        .groupBy("k").count().filter("count > 1").count()
    )
    assert dups == 0


def test_correlated_nodes_have_both_sources(merged):
    _, _, mn, _, _ = merged
    both = mn.filter(F.size("sources") > 1)
    for r in both.select("sources").collect():
        assert r.sources == ["semantic", "telemetry"]
    # telemetry props folded into correlated nodes
    assert both.filter(F.col("connection_count").isNotNull()).count() > 0


def test_merged_edges_endpoint_closure(merged):
    """Dangling-edge drop (J1): every merged edge endpoint is a merged node."""
    _, _, mn, me, _ = merged
    ids = mn.select(F.col("node_id").alias("src"))
    orphans = me.join(ids, "src", "left_anti").count()
    ids_dst = mn.select(F.col("node_id").alias("dst"))
    orphans += me.join(ids_dst, "dst", "left_anti").count()
    assert orphans == 0


def test_edge_dedup_on_key(merged):
    _, _, _, me, _ = merged
    assert me.count() == me.select("src", "dst", "rel_type").distinct().count()


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "u string, v string"
    )
    cc = {r.node: r.component for r in C.connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"


@pytest.mark.parametrize("n_nodes", [13, 41])
def test_connected_components_chain(spark, n_nodes):
    # a path is the slowest shape; 41 nodes (diameter 40) is beyond any
    # O(diameter)-round method capped at 25 rounds
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n_nodes - 1)],
        "u string, v string",
    )
    cc = C.connected_components(edges).collect()
    assert {r.component for r in cc} == {"n00"}
    assert len(cc) == n_nodes


def test_connected_components_empty_and_self_loops(spark):
    """No edges, or only self-loops, yield no nodes at all."""
    for rows in ([], [("a", "a"), ("b", "b")]):
        edges = spark.createDataFrame(rows, "u string, v string")
        assert C.connected_components(edges).collect() == []


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    monkeypatch.setattr(C, "MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(8)], "u string, v string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        C.connected_components(edges)


def test_minhash_links_alias_variants(spark):
    surfaces = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corporation",), ("Globex Corp",), ("Initech",)],
        "surface string",
    )
    pairs = L.minhash_link(surfaces, jaccard_max_dist=0.6).collect()
    linked = {(p.surface_a, p.surface_b) for p in pairs}
    assert ("Acme Corp", "Acme Corporation") in linked
    assert ("Acme Corp", "Initech") not in linked


def test_cosine_link_and_embedding(spark):
    surfaces = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corporation",), ("Zorg Corp",)], "surface string"
    )
    pairs = L.cosine_link(surfaces, threshold=0.5).collect()
    got = {(p.surface_a, p.surface_b) for p in pairs}
    assert ("Acme Corp", "Acme Corporation") in got
    # embeddings are unit-norm
    emb = surfaces.select(L.embed_surfaces(F.col("surface")).alias("e")).collect()
    for r in emb:
        norm = sum(x * x for x in r.e) ** 0.5
        assert abs(norm - 1.0) < 1e-3


def test_canonical_map_from_links(spark):
    pairs = spark.createDataFrame(
        [("Acme Corp", "Acme Corporation"), ("Acme Corporation", "ACME")],
        "surface_a string, surface_b string",
    )
    cmap = {r.surface: r.canonical_surface for r in C.canonical_map_from_links(pairs).collect()}
    assert len(set(cmap.values())) == 1  # one cluster, one representative


def test_cc_matches_union_find(spark):
    """Every node's component is the min id of its union-find set, on seeded
    random graphs of several shapes (sparse forest, dense, mostly
    isolated pairs)."""
    import random

    def union_find(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for u, v in pairs:
            if u != v:
                a, b = find(u), find(v)
                parent[max(a, b)] = min(a, b)
        return {x: find(x) for x in parent}

    for seed, n_nodes, n_edges in ((1, 20, 15), (2, 40, 60), (3, 30, 8)):
        rng = random.Random(seed)
        pairs = [
            (f"n{rng.randrange(n_nodes):03d}", f"n{rng.randrange(n_nodes):03d}")
            for _ in range(n_edges)
        ]
        edges = spark.createDataFrame(pairs, "u string, v string")
        got = {r.node: r.component for r in C.connected_components(edges).collect()}
        assert got == union_find(pairs), seed


def test_pagerank_vs_numpy_oracle(spark):
    """PageRank equals a dense numpy power iteration (same damping, same
    iteration count, same dangling handling) on a small digraph with a hub,
    a chain, and a dangling node."""
    import numpy as np

    from knowledge_graph_rag_spark.operators.graphalgs import pagerank

    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "d"), ("c", "f"),  # f is dangling
    ]
    nodes = sorted({x for e in edge_list for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n, d = len(nodes), 0.85
    out = {v: [w for (u, w) in edge_list if u == v] for v in nodes}
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        nxt = np.zeros(n)
        dangling = sum(r[idx[v]] for v in nodes if not out[v])
        for v in nodes:
            for w in out[v]:
                nxt[idx[w]] += r[idx[v]] / len(out[v])
        r = (1 - d) / n + d * dangling / n + d * nxt
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {row.node_id: row.rank for row in pagerank(edges, max_iter=10).collect()}
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # hub c (most in-links) outranks the chain tail e
    assert got["c"] > got["e"]


def test_triangle_count_vs_bruteforce(spark):
    """triangle_count equals an itertools brute force on known graphs: K4
    (4 triangles), C5 (0), and a seeded random graph; robust to duplicate /
    reversed / self-loop edges (canonicalized first)."""
    import itertools
    import random

    from knowledge_graph_rag_spark.operators.graphalgs import triangle_count

    def brute(edge_list):
        adj = set()
        nodes = set()
        for u, v in edge_list:
            if u != v:
                adj.add((min(u, v), max(u, v)))
                nodes.update((u, v))
        return sum(
            1
            for a, b, c in itertools.combinations(sorted(nodes), 3)
            if (a, b) in adj and (a, c) in adj and (b, c) in adj
        )

    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    c5 = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "a")]
    random.seed(9)
    rnd = [
        (f"n{random.randrange(30)}", f"n{random.randrange(30)}")
        for _ in range(150)
    ]
    noisy = k4 + [(b, a) for a, b in k4] + [("a", "a")] + k4  # dups/rev/loop
    for edge_list in (k4, c5, rnd, noisy):
        df = spark.createDataFrame(edge_list, "src string, dst string")
        got = triangle_count(df).collect()[0].n_triangles
        assert got == brute(edge_list), (edge_list[:5], got, brute(edge_list))


def test_pagerank_leaves_no_pinned_storage(spark):
    """Library hygiene: pagerank must not leave frames pinned in managed
    memory after the caller drops the result (localCheckpoint blocks are
    reclaimed by the ContextCleaner once unreferenced; .cache() would stay
    pinned forever). Persistent-RDD count must return to its pre-call
    baseline after GC."""
    import gc
    import time

    from knowledge_graph_rag_spark.operators.graphalgs import pagerank

    def pinned_ids() -> set:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = pinned_ids()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    res = pagerank(edges, max_iter=6)
    res.collect()
    created = pinned_ids() - before
    assert created  # sanity: localCheckpoint did pin while referenced
    del res
    # only the RDDs pagerank itself created must drain — other tests'
    # long-lived caches in the shared session are not this test's business
    # ContextCleaner runs async — poll, bounded. r06 deflake (r05 verdict
    # #4): 30 s was enough in isolation but flaked once under a 13-minute
    # full-suite co-tenant load (226/227); the invariant is about EVENTUAL
    # reclamation, so give the cleaner up to 120 s — the loop exits in a
    # couple of iterations on a healthy run and only ever waits long when
    # the host is saturated.
    for _ in range(240):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not (pinned_ids() & created):
            break
        time.sleep(0.5)
    assert not (pinned_ids() & created)


def test_kcore_vs_python_peel(spark):
    """kcore equals the sequential peeling algorithm (node set AND in-core
    degrees) on: a clique+pendant-chain graph where peeling must CASCADE
    (removing the chain tail drops the next node below k, round after
    round), a graph whose k-core is empty (tree), and a seeded random graph
    near the critical density; robust to duplicate/reversed/self-loop
    edges."""
    import random
    from collections import defaultdict

    from knowledge_graph_rag_spark.operators.graphalgs import kcore

    def peel(edge_list, k):
        adj = defaultdict(set)
        for u, v in edge_list:
            if u != v:
                adj[u].add(v)
                adj[v].add(u)
        while True:
            bad = [n for n, s in adj.items() if len(s) < k]
            if not bad:
                return {(n, len(s)) for n, s in adj.items()}
            for n in bad:
                for nb in adj[n]:
                    if nb in adj:
                        adj[nb].discard(n)
                del adj[n]

    k4 = [(a, b) for a, b in __import__("itertools").combinations("abcd", 2)]
    # pendant chain off the clique: e-f-g-h peels one node per round
    chain = k4 + [("d", "e"), ("e", "f"), ("f", "g"), ("g", "h")]
    tree = [("a", "b"), ("a", "c"), ("b", "d"), ("b", "e"), ("c", "f")]
    random.seed(17)
    rnd = [
        (f"n{random.randrange(40)}", f"n{random.randrange(40)}")
        for _ in range(70)
    ]
    noisy = chain + [(b, a) for a, b in chain] + [("a", "a")] + chain[:3]
    for edge_list, k in ((chain, 2), (chain, 3), (tree, 2), (rnd, 2), (rnd, 3), (noisy, 3)):
        df = spark.createDataFrame(edge_list, "src string, dst string")
        got = {(r.node_id, r.degree) for r in kcore(df, k).collect()}
        assert got == peel(edge_list, k), (k, edge_list[:4])


def test_kcore_leaves_no_pinned_storage(spark):
    """Same localCheckpoint hygiene contract as pagerank: nothing kcore
    pinned may survive the caller dropping the result."""
    import gc
    import time

    from knowledge_graph_rag_spark.operators.graphalgs import kcore

    def pinned_ids() -> set:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = pinned_ids()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    res = kcore(edges, 2)
    res.collect()
    created = pinned_ids() - before
    assert created
    del res
    for _ in range(60):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not (pinned_ids() & created):
            break
        time.sleep(0.5)
    assert not (pinned_ids() & created)


def test_local_clustering_vs_bruteforce(spark):
    """Per-node triangle counts and clustering coefficients equal an
    itertools brute force on K4 (all coeff 1), a star (all 0), and a seeded
    random graph; robust to duplicate/reversed/self-loop edges."""
    import itertools
    import random

    from knowledge_graph_rag_spark.operators.graphalgs import local_clustering

    def brute(edge_list):
        adj = {}
        for u, v in edge_list:
            if u != v:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
        out = {}
        for n, nbrs in adj.items():
            d = len(nbrs)
            t = sum(
                1 for a, b in itertools.combinations(sorted(nbrs), 2)
                if b in adj.get(a, ())
            )
            c = round(2.0 * t / (d * (d - 1)), 4) if d >= 2 else 0.0
            out[n] = (d, t, c)
        return out

    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    star = [("hub", f"s{i}") for i in range(6)]
    random.seed(31)
    rnd = [
        (f"n{random.randrange(25)}", f"n{random.randrange(25)}")
        for _ in range(110)
    ]
    noisy = k4 + [(b, a) for a, b in k4] + [("a", "a")] + k4[:2]
    for edge_list in (k4, star, rnd, noisy):
        df = spark.createDataFrame(edge_list, "src string, dst string")
        got = {
            r.node_id: (r.degree, r.triangles, r.coeff)
            for r in local_clustering(df).collect()
        }
        assert got == brute(edge_list), edge_list[:4]
