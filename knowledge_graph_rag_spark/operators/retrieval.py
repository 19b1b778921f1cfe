"""Grounded-retrieval engine queries (SURVEY.md §3.2 / rag_service.py).

The reference's staged fallback retrieval (founder fast-path → entity search
→ bounded paths → node info → fulltext → overview, ``rag_service.py:84-332``)
is API-layer control flow; each stage's *engine query* lives here as a
DataFrame plan over the (nodes, edges) frames. Bounds mirror the reference:
path depth ≤ 2, ≤ 3 candidate pairs, LIMIT everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .detectors import paths_among


def entity_search(nodes: DataFrame, text: str, limit: int = 20) -> DataFrame:
    """Case-insensitive contains-search over labels (rag_service.py:92-144,
    J10 existence-probe shape). This is the full-scan form — fine when the
    nodes frame is already partition-pruned to one graph; at 10^12-node scale
    use the token inverted index below (the Spark-native analogue of the
    reference's Neo4j fulltext index, neo4j_service.py:38-53)."""
    needle = text.lower()
    return (
        nodes.filter(F.lower(F.col("label")).contains(needle))
        .select("node_id", "label", "type", "entity_class")
        .orderBy("label")
        .limit(limit)
    )


# --- token inverted index (fulltext-index parity at scale) -------------------

ENTITY_INDEX_TABLE = "entity_index"


def entity_token_index(nodes: DataFrame) -> DataFrame:
    """Explode each node label into lowercased word tokens →
    (graph_id, tok_prefix, token, node_id). ``tok_prefix`` (first 2 chars)
    is the partition key: bounded cardinality (≤ ~1.4k over [a-z0-9]²), and a
    word-prefix probe preserves it, so every lookup prunes to one partition
    instead of scanning 10^12 nodes. Built at materialize time
    (update_entity_index); reference analogue: the Neo4j fulltext index the
    RAG service creates on startup (neo4j_service.py:38-53)."""
    toks = nodes.select(
        "graph_id",
        "node_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    # (?U): Java regex \W is ASCII by default while Python's
                    # is Unicode-aware — without the flag, 'Café' indexes as
                    # 'caf' and a Python-tokenized probe 'café' can never
                    # match. Both sides tokenize Unicode-identically now
                    # (pinned by test_entity_search_indexed's unicode probe).
                    F.split(F.lower(F.col("label")), r"(?U)\W+"),
                    lambda w: w != F.lit(""),
                )
            )
        ).alias("token"),
    )
    return toks.withColumn("tok_prefix", F.substring("token", 1, 2))


def update_entity_index(store, nodes: DataFrame, graph_id: str) -> None:
    """Incremental index maintenance: rewrite ONLY ``graph_id``'s index
    partition (the same partition-scoped commit protocol as nodes/edges), so
    re-materializing one graph on a 10k-graph warehouse touches one
    partition's index files and re-references the rest."""
    df = entity_token_index(nodes.filter(F.col("graph_id") == graph_id))
    # drop_ids: an empty token frame (all labels non-tokenizable) writes no
    # graph_id dir, and without the explicit drop the commit would carry the
    # OLD index partition forward by manifest reference — a stale index that
    # violates index == f(current nodes). Written data still wins when
    # nonempty (drop_ids is ignored for partitions present in df).
    store.upsert_graph_partitions(
        ENTITY_INDEX_TABLE, df,
        sort_within=("token",), sub_partition=("tok_prefix",),
        drop_ids=(graph_id,),
    )


def refresh_entity_index(store, graph_id: str) -> None:
    """Re-derive one graph's index partition from its CURRENT nodes
    partition. Call after ANY commit that changed the graph's nodes
    (incremental fold-in, telemetry/merge store_graph, …) — the invariant is
    index partition == entity_token_index(current nodes partition), pinned by
    test_incremental_update_keeps_index_consistent."""
    part = store.read_partition("nodes", graph_id) if store.exists("nodes") else None
    if part is None:
        if store.exists(ENTITY_INDEX_TABLE):
            store._drop_partitions(ENTITY_INDEX_TABLE, (graph_id,))
        return
    update_entity_index(store, part, graph_id)


def _query_tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split(r"\W+", text.lower()) if t]


def entity_search_indexed(index: DataFrame, nodes: DataFrame, text: str,
                          limit: int = 20,
                          graph_id: str | None = None) -> DataFrame:
    """Index-routed entity search: each query token probes ONE
    (graph_id, tok_prefix) partition (partition pruning — pass ``graph_id``
    whenever the search is graph-scoped, or the probe reads the needle's
    tok_prefix dir of EVERY graph) with a token word-prefix match; multi-token
    queries AND via node_id semi-joins; the matched id set semi-joins back to
    nodes. Semantics = fulltext word-prefix match (like the reference's Neo4j
    ``CONTAINS``-backed fulltext probes for entity words) — it matches needles
    at word starts, not mid-word substrings; equivalence with the contains
    scan on whole-word probes is pinned by test_entity_search_indexed."""
    needles = _query_tokens(text)
    if not needles:
        return nodes.select(
            "node_id", "label", "type", "entity_class"
        ).limit(0)
    if graph_id is not None:
        index = index.filter(F.col("graph_id") == graph_id)
        # node_ids are graph-agnostic content hashes (entity_node_id(label,
        # type)) — scope the NODES side too, or a multi-graph frame returns
        # same-id nodes from every other graph after the semi-join
        if "graph_id" in nodes.columns:
            nodes = nodes.filter(F.col("graph_id") == graph_id)
    cand = None
    for t in needles:
        hit = (
            index.filter(
                # == for len≥2 needles (matching tokens share the needle's
                # first 2 chars); startswith covers 1-char needles
                F.col("tok_prefix").startswith(t[:2])
                & F.col("token").startswith(t)
            )
            .select("node_id")
            .distinct()
        )
        cand = hit if cand is None else cand.join(hit, "node_id", "left_semi")
    return (
        nodes.join(cand, "node_id", "left_semi")
        .select("node_id", "label", "type", "entity_class")
        .orderBy("label")
        .limit(limit)
    )


def node_info(nodes: DataFrame, edges: DataFrame, node_id: str,
              neighbor_limit: int = 25) -> tuple[DataFrame, DataFrame]:
    """One node's row + its 1-hop neighborhood (both directions), labels
    resolved (rag_service.py:231-264)."""
    node = nodes.filter(F.col("node_id") == node_id)
    out_n = edges.filter(F.col("src") == node_id).select(
        F.lit("out").alias("direction"), "rel_type", F.col("dst").alias("neighbor_id")
    )
    in_n = edges.filter(F.col("dst") == node_id).select(
        F.lit("in").alias("direction"), "rel_type", F.col("src").alias("neighbor_id")
    )
    labels = nodes.select(
        F.col("node_id").alias("neighbor_id"), F.col("label").alias("neighbor_label")
    )
    neighbors = (
        out_n.unionByName(in_n)
        .join(labels, "neighbor_id", "left")
        .orderBy("direction", "rel_type", "neighbor_id")
        .limit(neighbor_limit)
    )
    return node, neighbors


def paths_between(nodes: DataFrame, edges: DataFrame, label_a: str, label_b: str,
                  max_pairs: int = 3) -> DataFrame:
    """Bounded 1..2-hop paths between entities matched by label — the
    reference caps candidate pairs at 3 and depth at 2 to avoid blow-up
    (rag_service.py:170-197); same bounds here. Up to 10 distinct paths over
    all candidate pairs, ordered by (hops, path)."""
    a_ids = [r.node_id for r in entity_search(nodes, label_a, max_pairs).collect()]
    b_ids = [r.node_id for r in entity_search(nodes, label_b, max_pairs).collect()]
    return paths_among(edges, [(a, b) for a in a_ids for b in b_ids if a != b])


def graph_overview(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Fallback overview: type histogram with examples (rag_service.py:266-332,
    same shape as the `general` template)."""
    return (
        nodes.groupBy("type")
        .agg(
            F.count("*").alias("count"),
            F.slice(F.sort_array(F.collect_set("label")), 1, 5).alias("examples"),
        )
        .orderBy(F.desc("count"), "type")
        .limit(10)
    )


# --- BM25 document retrieval (RAG grounding over a text corpus) --------------


def bm25_topk(
    docs: DataFrame, query: str, id_col: str = "doc_id",
    text_col: str = "text", k: int = 10, k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k documents for ``query`` (Robertson & Zaragoza 2009,
    the probabilistic-relevance idf: ln(1 + (N-df+0.5)/(df+0.5))) — the
    standard lexical retriever a RAG grounding layer runs next to the
    entity/ANN paths. Returns (id, score, rank), scores rounded BEFORE
    ranking with id tiebreak.

    Scale shape: the exploded token stream is filtered to the QUERY'S terms
    before any aggregation (a query has a handful of terms, so the tf table
    is tiny and term df comes from it — broadcast-safe by construction,
    bounded by |query terms|, never corpus vocabulary); per-doc length and
    the corpus (N, avgdl) constants are one narrow agg each; final top-k is
    a rank window. Nothing driver-side except the query string itself."""
    import re as _re

    from pyspark.sql import Window

    qterms = sorted({t for t in _re.split(r"\W+", query.lower()) if t})
    if not qterms:
        raise ValueError("query has no searchable terms")
    from ..functions.text import wsplit_tokens_col

    base = docs.select(
        F.col(id_col).alias("id"), wsplit_tokens_col(F.col(text_col)).alias("w")
    )
    lens = base.select("id", F.size("w").alias("dl"))
    consts = lens.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(qterms))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "id")
        .crossJoin(consts)
        .groupBy("id")
        .agg(F.round(F.sum(idf * tf_norm), 4).alias("score"))
    )
    # distributed top-k (TakeOrderedAndProject) FIRST, then the rank window
    # runs over only k rows — a global row_number over every matching doc
    # would single-partition the full candidate set
    top = scored.orderBy(F.desc("score"), "id").limit(k)
    w = Window.orderBy(F.desc("score"), "id")
    return top.withColumn("rank", F.row_number().over(w))


def chunk_words_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    chunk_size: int = 12,
) -> DataFrame:
    """``(id, chunk_id, chunk_text)`` — non-overlapping ``chunk_size``-word
    windows, all native (split → sequence → slice → posexplode, no UDF).
    The token array is materialized as a projected column before the
    per-chunk lambda reads it (the HOF-lambda re-evaluation trap — see
    dedup.word_shingles)."""
    w = F.filter(F.split(F.col(text_col), r"\W+"), lambda t: t != F.lit(""))
    base = docs.select(F.col(id_col).alias("id"), w.alias("w")).filter(
        F.size("w") > 0
    )
    n_chunks = F.ceil(F.size("w") / F.lit(chunk_size)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("w"), i * chunk_size + 1, chunk_size)
        ),
    )
    return base.select("id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))


def assemble_context(
    docs: DataFrame, query: str, id_col: str = "doc_id",
    text_col: str = "text", k: int = 5, chunk_size: int = 12,
    window: int = 1, k1: float = 1.2, b: float = 0.75,
) -> DataFrame:
    """RAG context assembly: BM25-score fixed word chunks against ``query``,
    take the top-``k`` chunks, widen each hit by ``window`` neighboring
    chunks of the same document (retrieval hits are usually mid-thought —
    the neighbor expansion is what grounding prompts actually consume), and
    merge per document. Returns one row per document contributing chunks:
    ``(id_col, best_rank, best_score, n_chunks, context)`` with ``context``
    the chunk texts joined in position order.

    Scale shape: chunking + scoring inherit bm25_topk's bounds (tf table
    bounded by |query terms|); the hit set is k rows, so the neighbor
    expansion is a BROADCAST range join against the chunk table and the
    final merge aggregates at most k*(2*window+1) rows. Composite chunk key
    is ``doc:chunk`` (string) so the library retriever is reused unchanged;
    ranking ties therefore break on that string, mirrored in the oracle."""
    # chunks feeds FOUR subtrees (bm25's lens/consts/tf scans + the neighbor
    # expansion join) — checkpoint so the split/transform/posexplode chunking
    # runs once, not per consumer (same convention as dedup.ngram_jaccard_
    # pairs' grouped table; blocks reclaimed once the result is dropped)
    chunks = chunk_words_df(docs, id_col, text_col, chunk_size).localCheckpoint(
        eager=False
    )
    keyed = chunks.select(
        F.concat(
            F.col("id").cast("string"), F.lit(":"),
            F.col("chunk_id").cast("string"),
        ).alias("ck"),
        F.col("chunk_text").alias("text"),
    )
    # parse the composite key from the RIGHT — a string doc id may itself
    # contain ':' ('a:1' chunk 0 keys as 'a:1:0'); the chunk suffix is the
    # digits after the LAST colon
    hits = bm25_topk(
        keyed, query, id_col="ck", text_col="text", k=k, k1=k1, b=b
    ).select(
        F.regexp_extract(F.col("id"), r"^(.*):(\d+)$", 1).alias("hit_doc"),
        F.regexp_extract(F.col("id"), r"^(.*):(\d+)$", 2)
        .cast("int")
        .alias("hit_chunk"),
        "score", "rank",
    )
    expanded = (
        F.broadcast(hits)
        .join(
            chunks,
            (F.col("id").cast("string") == F.col("hit_doc"))
            & (F.col("chunk_id") >= F.col("hit_chunk") - window)
            & (F.col("chunk_id") <= F.col("hit_chunk") + window),
        )
        .select("id", "chunk_id", "chunk_text", "score", "rank")
    )
    merged = expanded.groupBy("id").agg(
        F.min("rank").alias("best_rank"),
        F.max("score").alias("best_score"),
        F.count_distinct(F.col("chunk_id")).alias("n_chunks"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_set(F.struct("chunk_id", "chunk_text"))
                ),
                lambda s: s.chunk_text,
            ),
        ).alias("context"),
    )
    return merged.select(
        F.col("id").alias(id_col), "best_rank", "best_score", "n_chunks",
        "context",
    )
