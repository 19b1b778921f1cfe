"""kg_lifecycle: the KG user's whole path in one process.

Set-up starts the session and warms up the first job, the Python workers
and the extractor by resolving the triples of a few documents, checked
against the oracle. Timed, in order: a bulk ``pipeline.run`` into an empty
warehouse (LSH canonicalization and bucketize on), the same call re-issued
(resume), a ``run_incremental`` fold of new documents into the built graph,
then a closed loop of retrieval calls against the result until the timed
phase has lasted ``--seconds``. The corpus is ``synth.gen_doc`` over index
ranges offset by the seed; the bulk and fold ranges are disjoint, and the
warm-up extracts the fold's documents.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from common import call_latency, log

BULK_DOCS = 1000
FOLD_DOCS = 48
SAMPLE_DOCS = 48       # bulk docs whose triples are compared with the oracle
PROBES_PER_KIND = 16
MIN_ROUNDS = 2         # closed-loop rounds of one call per kind
GRAPH = "kg_main"
KINDS = ("entity_search_indexed", "node_info", "paths_between", "graph_overview")
TRIPLE_COLS = ["doc_id", "subj", "subj_type", "pred", "obj", "obj_type", "confidence"]
SPARK_CONF: dict[str, str] = {}

_ARROW_DOCS = pa.schema([
    pa.field("doc_id", pa.string(), False),
    pa.field("spans", pa.list_(pa.struct([
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("media_ref", pa.string(), False),
        pa.field("offset", pa.int32(), False),
    ])), False),
])


def _ranges(seed: int) -> dict[str, range]:
    base = (seed % 10_007) * 4_096
    sizes = (("bulk", BULK_DOCS), ("fold", FOLD_DOCS))
    out, start = {}, base
    for name, n in sizes:
        out[name] = range(start, start + n)
        start += n
    return out


def _corpus(ctx, docs: range) -> str:
    """Parquet of gen_doc over ``docs``, one file per core, written once per
    (range, cores) into the cache."""
    from knowledge_graph_rag_spark import synth

    path = os.path.join(ctx.cache, f"kg-{docs.start}-{len(docs)}-{ctx.cores}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    # a run killed while writing leaves its files behind; the next run in
    # the same pid namespace gets the same pid and overwrites them
    tmp = f"{path}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rows = [synth.gen_doc(i) for i in docs]
    step = -(-len(rows) // ctx.cores)
    for k in range(0, len(rows), step):
        pq.write_table(pa.Table.from_pylist(rows[k:k + step], schema=_ARROW_DOCS),
                       os.path.join(tmp, f"part-{k // step:03d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _triples_match(ctx, df, docs: list[int], what: str) -> None:
    """The triples of ``docs`` in ``df`` equal oracle.triples_pdf exactly."""
    from pyspark.sql import functions as F

    from knowledge_graph_rag_spark import oracle, synth

    gen = [synth.gen_doc(i) for i in docs]
    ids = [d["doc_id"] for d in gen]
    got = {
        tuple(r[:-1]) + (round(r[-1], 6),)
        for r in df.filter(F.col("doc_id").isin(ids)).select(*TRIPLE_COLS).collect()
    }
    ref = {
        tuple(r[:-1]) + (round(r[-1], 6),)
        for r in oracle.triples_pdf(gen)[TRIPLE_COLS].itertuples(index=False)
    }
    ctx.check(got == ref, f"{what}: {len(got ^ ref)} triples differ from the oracle")


def _query(R, frames, labels, kind: str, probe) -> list:
    """One retrieval call, results collected. ``probe`` is a node id
    (entity search, node info), a pair of labels (paths) or None."""
    index, nodes, edges = frames
    if kind == "entity_search_indexed":
        return R.entity_search_indexed(index, nodes, labels[probe], graph_id=GRAPH).collect()
    if kind == "node_info":
        node, neighbors = R.node_info(nodes, edges, probe)
        return [node.collect(), neighbors.collect()]
    if kind == "paths_between":
        return R.paths_between(nodes, edges, *probe).collect()
    return R.graph_overview(nodes, edges).collect()


def _nk(x):
    """Sort key that orders None first, as Spark's ascending sort does."""
    return (x is not None, x if x is not None else "")


class Graph:
    """The built graph collected on the driver. The gates compute each
    retrieval call's expected rows from it, replicating the query's
    semantics in plain Python."""

    def __init__(self, nodes: list[tuple], edges: list[tuple]):
        self.nodes = nodes  # (node_id, label, type)
        self.edges = edges  # (src, dst, rel_type)
        self.labels = {nid: lab for nid, lab, _ in self.nodes}
        self.labels_of = defaultdict(list)
        for nid, lab, _ in self.nodes:
            self.labels_of[nid].append(lab)
        # the entity index's tokens: lowercased label split on non-word runs
        self.tokens = [{t for t in re.split(r"\W+", lab.lower()) if t} for _, lab, _ in self.nodes]
        self.und = defaultdict(list)  # undirected adjacency: src -> [(dst, rel)]
        for src, dst, rel in self.edges:
            self.und[src].append((dst, rel))
            self.und[dst].append((src, rel))
        self._lowered = [lab.lower() for _, lab, _ in self.nodes]

    @classmethod
    def collect(cls, store) -> "Graph":
        nodes = store.read_partition("nodes", GRAPH).select("node_id", "label", "type")
        edges = store.read_partition("edges", GRAPH).select("src", "dst", "rel_type")
        return cls([tuple(r) for r in nodes.collect()], [tuple(r) for r in edges.collect()])

    def candidates(self, text: str, limit: int = 3) -> list[str] | None:
        """``entity_search(nodes, text, limit)``'s node ids: labels that
        contain ``text`` case-insensitively, the first ``limit`` by label.
        None when labels tie at the cut, so that which ids the limit keeps is
        not determined."""
        needle = text.lower()
        m = sorted(((lab, nid) for (nid, lab, _), low in zip(self.nodes, self._lowered)
                    if needle in low), key=lambda x: _nk(x[0]))
        if len(m) > limit and m[limit - 1][0] == m[limit][0]:
            return None
        return [nid for _, nid in m[:limit]]

    def check(self, kind: str, probe, rows) -> bool:
        """Whether one retrieval call returned exactly what it should."""
        if kind == "entity_search_indexed":
            return self._check_search(self.labels[probe], rows)
        if kind == "node_info":
            return self._check_node_info(probe, *rows)
        if kind == "paths_between":
            return self._check_paths(*probe, rows)
        return self._check_overview(rows)

    def _check_search(self, text: str, rows, limit: int = 20) -> bool:
        # every needle is a word prefix of some token; ordered by label
        from knowledge_graph_rag_spark.operators.retrieval import _query_tokens

        needles = _query_tokens(text)
        hits = [(lab, nid) for (nid, lab, _), toks in zip(self.nodes, self.tokens)
                if all(any(t.startswith(n) for t in toks) for n in needles)]
        want = sorted((lab for lab, _ in hits), key=_nk)[:limit]
        ids = {nid for _, nid in hits}
        return (bool(hits) and sorted((r.label for r in rows), key=_nk) == want
                and all(r.node_id in ids for r in rows))

    def _check_node_info(self, probe: str, node, neighbors, limit: int = 25) -> bool:
        if len(node) != len(self.labels_of[probe]) or any(r.node_id != probe for r in node):
            return False
        adj = [("out", rel, dst) for src, dst, rel in self.edges if src == probe]
        adj += [("in", rel, src) for src, dst, rel in self.edges if dst == probe]
        # the label join repeats a neighbor once per node row with its id
        adj = [a for a in adj for _ in self.labels_of.get(a[2]) or [None]]

        def key(x):
            return (x[0], _nk(x[1]), _nk(x[2]))

        got = [(r.direction, r.rel_type, r.neighbor_id) for r in neighbors]
        return (sorted(got, key=key) == sorted(adj, key=key)[:limit]
                and all(r.neighbor_label in (self.labels_of.get(r.neighbor_id) or [None])
                        for r in neighbors))

    def _check_paths(self, label_a: str, label_b: str, rows, limit: int = 10) -> bool:
        # bounded 1..2-hop undirected paths between up to 3 x 3 candidates;
        # each candidate pair keeps at most ``limit`` rows by hops before the
        # union, so the exact set is determined only when no pair has more
        per_pair = []
        for a in self.candidates(label_a):
            for b in self.candidates(label_b):
                if a == b:
                    continue
                rows_ab = [(1, (a, b), (r,)) for d, r in self.und[a] if d == b]
                rows_ab += [(2, (a, m, b), (r1, r2)) for m, r1 in self.und[a] if m != b
                            for d, r2 in self.und[m] if d == b]
                per_pair.append(rows_ab)
        valid = {row for rows_ab in per_pair for row in rows_ab}
        got = [(r.hops, tuple(r.path), tuple(r.rels)) for r in rows]
        hops = [h for h, _, _ in got]
        ok = (all(row in valid for row in got) and hops == sorted(hops)
              and len({p for _, p, _ in got}) == len(got))
        if all(len(rows_ab) <= limit for rows_ab in per_pair):
            return ok and hops == sorted(len(p) - 1 for p in {p for _, p, _ in valid})[:limit]
        return ok and bool(got)

    def _check_overview(self, rows, limit: int = 10) -> bool:
        by_type = defaultdict(set)
        count: dict = defaultdict(int)
        for _, lab, typ in self.nodes:
            count[typ] += 1
            if lab is not None:
                by_type[typ].add(lab)
        want = sorted(((typ, n, sorted(by_type[typ])[:5]) for typ, n in count.items()),
                      key=lambda x: (-x[1], _nk(x[0])))[:limit]
        return [(r.type, r["count"], list(r.examples)) for r in rows] == want


def _systematic(candidates: list, key, rng: random.Random, n: int = PROBES_PER_KIND,
                ok=None) -> list:
    """``n`` candidates at evenly spaced ranks of ``key`` with a seeded offset
    (systematic sampling), in bit-reversed rank order so that any prefix
    spans the whole range: every run calls cheap and costly probes in the
    same proportion, however few calls it makes. A candidate that fails
    ``ok`` gives way to the next rank."""
    xs = sorted(candidates, key=key)
    off = rng.random()
    bits = max(1, (n - 1).bit_length())
    order = sorted(range(n), key=lambda k: int(f"{k:0{bits}b}"[::-1], 2))
    out = []
    for k in order:
        i = int((off + k) / n * len(xs)) % len(xs)
        while ok is not None and not ok(xs[i]):
            i = (i + 1) % len(xs)
        out.append(xs[i])
    return out


def _probes(g: Graph, rng: random.Random, n: int = PROBES_PER_KIND) -> dict[str, list]:
    """Probes drawn by the seed from the built graph, per query kind, spread
    over a cost proxy: label token count for entity search, degree for node
    info, and how often each end label occurs in all labels for
    paths_between. Path probes are the end labels of one edge, so a path
    exists, and are ones whose candidate ids are determined."""
    from knowledge_graph_rag_spark.operators.retrieval import _query_tokens

    degree: dict[str, int] = defaultdict(int)
    pairs = set()
    for src, dst, _ in g.edges:
        if src != dst and src in g.labels and dst in g.labels:
            degree[src] += 1
            degree[dst] += 1
            pairs.add((g.labels[src], g.labels[dst]))
    everything = "\0".join(lab.lower() for lab in g.labels.values())
    freq = {lab: min(3, everything.count(lab.lower())) for pair in pairs for lab in pair}
    ids = sorted(g.labels)
    return {
        "entity_search_indexed": _systematic(
            ids, lambda i: (len(_query_tokens(g.labels[i])), i), rng, n),
        "node_info": _systematic(ids, lambda i: (degree[i], i), rng, n),
        "paths_between": _systematic(
            sorted(pairs), lambda p: (freq[p[0]] * freq[p[1]], p), rng, n,
            ok=lambda p: g.candidates(p[0]) is not None and g.candidates(p[1]) is not None),
        "graph_overview": [None] * n,
    }


def _frames(store):
    return (store.read("entity_index"), store.read_partition("nodes", GRAPH),
            store.read_partition("edges", GRAPH))


def prepare(ctx) -> dict:
    """The seeded corpus, made without Spark while the session starts."""
    ranges = _ranges(ctx.seed)
    paths = {name: _corpus(ctx, r) for name, r in ranges.items()}
    log(f"corpus ready: {', '.join(f'{k}={len(v)}' for k, v in ranges.items())}")
    return {"ranges": ranges, "paths": paths}


def setup(ctx, prep: dict) -> dict:
    from knowledge_graph_rag_spark.operators import extract as X

    # Warm-up that doubles as a check: the first job, the first Python
    # workers and the extractor's first batches resolve the fold documents'
    # triples, which must equal the oracle's. The rest of each plan's first
    # run (planning, code generation, JIT) stays in the timed phase: a
    # warm-up that builds a graph costs about as much as the build it warms.
    raw = X.extract_raw(X.explode_spans(ctx.spark.read.parquet(prep["paths"]["fold"])))
    _triples_match(ctx, X.resolve_triples(ctx.spark, raw), list(prep["ranges"]["fold"]),
                   "warm-up extract")
    return dict(prep)


def instrument(ctx) -> None:
    """Trace the library calls that make up each layer of the bulk build
    (inside the ``pipeline`` span) and of the fold (inside the ``fold``
    span, as ``fold.*`` layers). Elsewhere (the resume call) the calls stay
    unspanned, so their time counts to the enclosing span."""
    from knowledge_graph_rag_spark.operators import bucketing, canonicalize, link, retrieval
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    tr = ctx.tracer
    snapshot_layers = {"raw_extract": "extract", "triples": "resolve", "mentions": "resolve",
                       "canonical_map": "canonicalize", "metrics": "lineage"}
    # a fold's snapshots are named <table>_<run_id>
    fold_snapshot_layers = {"triples": "fold.write", "mentions": "fold.write",
                            "metrics": "fold.lineage"}

    def layer(build: str, fold: str | None = None):
        def name_of(*a, **k):
            if tr.inside("pipeline"):
                return build
            return fold if tr.inside("fold") else None
        return name_of

    def snapshot_layer(store, table, *a, **k):
        if tr.inside("pipeline"):
            return snapshot_layers.get(table)
        if tr.inside("fold"):
            return fold_snapshot_layers.get(table.rsplit("_", 1)[0])
        return None

    tr.wrap(GraphStore, "write_snapshot", snapshot_layer)
    tr.wrap(GraphStore, "store_graph", layer("graph_store", "fold.graph_store"))
    tr.wrap(link, "minhash_link", layer("link"))
    tr.wrap(link, "cosine_link", layer("link"))
    tr.wrap(canonicalize, "canonical_map_from_links", layer("canonicalize"))
    tr.wrap(retrieval, "update_entity_index", layer("retrieval_index", "fold.retrieval_index"))
    tr.wrap(bucketing, "write_bucketed", layer("bucketing"))


def measure(ctx, state) -> dict:
    from knowledge_graph_rag_spark.operators import retrieval as R
    from knowledge_graph_rag_spark.plans import pipeline
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    spark, tr = ctx.spark, ctx.tracer
    paths = state["paths"]
    store = GraphStore(spark, os.path.join(ctx.tmp, "warehouse"))
    state["store"] = store

    def timed(span: str, call):
        t0 = time.perf_counter()
        with tr.span(span):
            out = call()
        ctx.attempted += 1
        return out, time.perf_counter() - t0

    ctx.settle()
    cpu0 = ctx.cpu_s()
    t_batch = time.perf_counter()
    with tr.span("timed"):
        built, build_s = timed("pipeline", lambda: pipeline.run(
            spark, spark.read.parquet(paths["bulk"]), store, graph_id=GRAPH, run_id="bulk"))
        resumed, resume_s = timed("resume", lambda: pipeline.run(
            spark, spark.read.parquet(paths["bulk"]), store, graph_id=GRAPH, run_id="bulk"))
        _, fold_s = timed("fold", lambda: pipeline.run_incremental(
            spark, spark.read.parquet(paths["fold"]), store, graph_id=GRAPH, run_id="fold"))
    batch_s = time.perf_counter() - t_batch
    batch_cpu_s = ctx.cpu_s() - cpu0
    state.update(built=built, resumed=resumed)

    with tr.span("check"):
        g = Graph.collect(store)
        probes = _probes(g, random.Random(ctx.seed))
        frames = _frames(store)
        ctx.settle()
    lat: dict[str, list[float]] = {k: [] for k in KINDS}
    cpu: dict[str, list[float]] = {k: [] for k in KINDS}
    answers = []
    with tr.span("timed"):
        # closed loop, one client: rounds of one call per kind until the
        # timed phase has lasted --seconds, and at least MIN_ROUNDS rounds
        deadline = t_batch + ctx.seconds
        j = 0
        while j < MIN_ROUNDS or time.perf_counter() < deadline:
            for kind in KINDS:
                probe = probes[kind][j % PROBES_PER_KIND]
                c0, t0 = ctx.cpu_s(), time.perf_counter()
                with tr.span(f"retrieval.{kind}"):
                    answers.append((kind, probe, _query(R, frames, g.labels, kind, probe)))
                lat[kind].append(time.perf_counter() - t0)
                cpu[kind].append(ctx.cpu_s() - c0)
                ctx.attempted += 1
            j += 1
    for kind, probe, rows in answers:  # checked after the loop, so untimed
        ctx.check(g.check(kind, probe, rows), f"{kind} probe {probe}")
    detail = {
        "batch_cpu_s": batch_cpu_s,
        "build_s": build_s,
        "build_docs_per_s": BULK_DOCS / build_s,
        "resume_s": resume_s,
        "fold_s": fold_s,
        "batch_s": batch_s,
        **call_latency(lat, cpu),
    }
    for kind, xs in lat.items():
        detail[f"{kind}_p50_ms"] = statistics.median(xs) * 1000
    log(f"build {build_s:.1f}s resume {resume_s:.1f}s fold {fold_s:.1f}s "
        f"queries {detail['calls']}")
    return detail


def verify(ctx, state) -> None:
    """Correctness gates on the timed phase's output (untimed)."""
    store, ranges = state["store"], state["ranges"]
    built, resumed = state["built"], state["resumed"]
    with ctx.tracer.span("check"):
        ctx.check(resumed.stages_run == [] and resumed.counts == built.counts,
                  f"resume re-ran {resumed.stages_run} or changed counts "
                  f"{resumed.counts} vs {built.counts}")
        sample = random.Random(ctx.seed).sample(list(ranges["bulk"]), SAMPLE_DOCS)
        _triples_match(ctx, store.read("triples"), sample, "bulk build sample")
        _triples_match(ctx, store.read("triples_fold"), list(ranges["fold"]), "fold")
