"""Canonicalization: connected components over alias/similarity edges.

The north rule requires MinHash-LSH + connected-components canonicalization;
graphframes isn't in the environment, so :func:`connected_components` is a
DataFrame loop of large-star / small-star rounds (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14). It needs O(log² n) rounds on
any graph shape; min-label propagation, which it replaced, needs
O(diameter) rounds and, capped at 25, returned partial labels on a 41-node
chain. Each round ends in one eager ``localCheckpoint`` (bounded plans), and
the edge-set fingerprint that decides convergence is observed on that same
checkpoint job, so convergence costs no job of its own.

Measured on 4 cores, Spark 4.1.2, jobs per warm call (label propagation →
this):

    dup_cluster_components pairs, sf0.01 (66 edges)            50 → 22
    dup_cluster_components pairs, sf0.1 (4,741 edges)         200 → 46
    41-node chain                  380, and 16 components (wrong) → 62
    kg_lifecycle seed 1, traced canonicalize layer, whole run  125 → 47

The sf0.1 pairs took 9.6–10.8 s a call before and 3.1–4.0 s after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Rounds before giving up. Chains settle in about log2(length) + 1 rounds
# (41 nodes: 7, 1,000 nodes: 11), so 10^12 nodes need ~41; 64 only trips on
# a fault.
MAX_ROUNDS = 64


def _canon(df: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (u=max, v=min) pairs, no self-loops."""
    return (
        df.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eagerly checkpoint ``edges`` and return it with its fingerprint
    (count, sum of xxhash64(u, v)), observed on the checkpoint job."""
    obs = Observation()
    edges = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return edges, (m["n"], int(m["h"] or 0))


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) with component = min node id of the component.

    ``edges`` needs columns (u, v); string or numeric ids both work (min is
    lexicographic for strings — any total order yields a canonical
    representative). Self-loops alone add no node. Raises ``RuntimeError``
    if the edge set has not settled after ``MAX_ROUNDS`` rounds.
    """
    cur, fp = _checkpoint(_canon(edges))
    if fp[0] == 0:
        return cur.select(F.col("u").alias("node"), F.col("v").alias("component"))

    for _ in range(MAX_ROUNDS):
        # large-star over the undirected neighborhood: every strictly-larger
        # neighbor of u points at min(Γ⁺(u))
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        nbr_min = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = _canon(
            sym.join(nbr_min, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star over the (max→min) orientation: u's smaller-or-equal
        # neighbors (and u) point at their minimum
        small_min = large.groupBy("u").agg(F.min("v").alias("m"))
        cur, new_fp = _checkpoint(_canon(
            large.join(small_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(small_min.select("u", F.col("m").alias("v")))
        ))
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )

    assign = cur.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    roots = (
        assign.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    return assign.unionByName(roots).dropDuplicates(["node"])


def canonical_map_from_links(link_pairs: DataFrame) -> DataFrame:
    """(surface, canonical_surface) from similarity/alias pairs
    (surface_a, surface_b): connected components, representative = min."""
    cc = connected_components(
        link_pairs.select(F.col("surface_a").alias("u"), F.col("surface_b").alias("v"))
    )
    return cc.select(
        F.col("node").alias("surface"), F.col("component").alias("canonical_surface")
    )
