"""Graph-native anomaly detectors A6-A10 + path queries J7/J8.

Re-expresses ``graph_anomaly_detector.py:76-394`` (degree spikes, fan-out,
protocol rarity, suspicious ports, report rollup) and the bounded path
retrieval of ``rag_service.py:170-197`` as DataFrame plans over nodes/edges.

Scale notes: the degree baseline (mean + 2σ) is a two-row broadcast (crossJoin
of a 1-row agg); fan-out's collect_set is keyed on (src,dst) — a composite key
that Zipf hubs can skew, handled by AQE skew-split plus the salted variant in
operators/skew.py; protocol share-of-total uses a window over an already
aggregated (tiny) frame.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..vocab import SUSPICIOUS_PORT_DESCRIPTIONS, SUSPICIOUS_PROTOCOLS


def _ip_labelled_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Edges with src resolved to an IP-node label (the detectors' common
    prefix). nodes side of the join is per-graph bounded → broadcast."""
    ips = nodes.filter(
        F.col("type").isin("IP", "IPAddress", "InternalIP", "ExternalIP")
        | F.col("label").rlike(r"\d+\.\d+\.\d+\.\d+")
    ).select(F.col("node_id").alias("src"), F.col("label").alias("source"),
             F.col("is_internal"))
    return edges.join(F.broadcast(ips), "src", "inner")


def detect_degree_spikes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A6 (graph_anomaly_detector.py:108-166): out-degree > mean+2σ AND > 5;
    confidence min(.95, .5 + excess·.15); severity high when > 2·threshold.

    Baseline distributes as: per-IP degree agg → 1-row (mean, stddev_pop) agg
    → broadcast crossJoin back. Degree of IPs with no edges counts as 0
    (OPTIONAL MATCH semantics)."""
    ips = nodes.filter(
        F.col("type").isin("IP", "IPAddress", "InternalIP", "ExternalIP")
        | F.col("label").rlike(r"\d+\.\d+\.\d+\.\d+")
    ).select(F.col("node_id").alias("src"), F.col("label").alias("ip_address"),
             "is_internal")
    degrees = (
        ips.join(edges.groupBy("src").agg(F.count("*").alias("out_degree")), "src", "left")
        .withColumn("out_degree", F.coalesce(F.col("out_degree"), F.lit(0)))
    )
    baseline = degrees.agg(
        F.avg("out_degree").alias("mean_degree"),
        F.coalesce(F.stddev_pop("out_degree"), F.lit(1.0)).alias("std_dev"),
        F.count("*").alias("n_ips"),
    ).withColumn("std_dev", F.when(F.col("std_dev") > 0, F.col("std_dev")).otherwise(F.lit(1.0)))
    flagged = (
        degrees.crossJoin(F.broadcast(baseline))
        .filter(F.col("n_ips") >= 3)
        .withColumn("threshold", F.col("mean_degree") + 2 * F.col("std_dev"))
        .filter((F.col("out_degree") > F.col("threshold")) & (F.col("out_degree") > 5))
        .withColumn(
            "confidence_score",
            F.least(
                F.lit(0.95),
                F.lit(0.5)
                + (F.col("out_degree") - F.col("threshold"))
                / (F.col("std_dev") + 1)
                * 0.15,
            ),
        )
    )
    return flagged.select(
        F.lit("degree_spike").alias("anomaly_type"),
        F.col("ip_address").alias("entity"),
        F.round("confidence_score", 3).alias("confidence_score"),
        F.round("mean_degree", 1).alias("baseline"),
        F.col("out_degree").cast("double").alias("observed"),
        F.when(F.col("out_degree") > F.col("threshold") * 2, "high")
        .otherwise("medium")
        .alias("severity"),
        "is_internal",
    )


def detect_fan_out(nodes: DataFrame, edges: DataFrame, limit: int = 20) -> DataFrame:
    """A7 (:168-226): per (src,dst) distinct-port sets, flag size>5; severity
    bands at 20/50; confidence .5 + (n-5)·.05 capped .95; 10 sample ports."""
    dsts = nodes.select(F.col("node_id").alias("dst"), F.col("label").alias("destination"))
    fanned = (
        _ip_labelled_edges(nodes, edges)
        .filter(F.col("port").isNotNull())
        .groupBy("src", "source", "dst")
        .agg(
            F.collect_set("port").alias("ports"),
            F.count("*").alias("connection_count"),
        )
        .withColumn("unique_ports", F.size("ports"))
        .filter(F.col("unique_ports") > 5)
        .join(dsts, "dst", "inner")
    )
    return (
        fanned.select(
            F.lit("fan_out_port_scan").alias("anomaly_type"),
            F.col("source").alias("entity"),
            F.round(
                F.least(F.lit(0.95), F.lit(0.5) + (F.col("unique_ports") - 5) * 0.05), 3
            ).alias("confidence_score"),
            "destination",
            "unique_ports",
            "connection_count",
            F.slice(F.array_sort("ports"), 1, 10).alias("sample_ports"),
            F.when(F.col("unique_ports") > 50, "critical")
            .when(F.col("unique_ports") > 20, "high")
            .otherwise("medium")
            .alias("severity"),
        )
        .orderBy(F.desc("unique_ports"), "entity", "destination")
        .limit(limit)
    )


def detect_protocol_rarity(edges: DataFrame) -> DataFrame:
    """A8 (:228-283): protocols under 1% of traffic AND <10 uses; suspicious
    protocols get confidence .7 else .5. Share-of-total = window over the
    already-tiny per-protocol agg (W2)."""
    per_proto = (
        edges.filter(F.col("protocol").isNotNull())
        .groupBy("protocol")
        .agg(F.count("*").alias("usage"))
    )
    w_all = Window.partitionBy()
    return (
        per_proto.withColumn("total", F.sum("usage").over(w_all))
        .withColumn("percentage", F.col("usage") * 100.0 / F.col("total"))
        .filter((F.col("percentage") < 1.0) & (F.col("usage") < 10))
        .select(
            F.lit("rare_protocol").alias("anomaly_type"),
            F.col("protocol").alias("entity"),
            F.when(
                F.lower(F.col("protocol")).isin(*SUSPICIOUS_PROTOCOLS), F.lit(0.7)
            )
            .otherwise(F.lit(0.5))
            .alias("confidence_score"),
            "usage",
            "total",
            F.round("percentage", 2).alias("percentage"),
            F.lit("medium").alias("severity"),
        )
        .orderBy("entity")
    )


def detect_suspicious_port_access(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A9 (:285-341): hits on the 8-port blocklist, per (src,dst,port)
    occurrence counts; fixed confidence .85, severity high."""
    port_desc = [(p, d) for p, d in SUSPICIOUS_PORT_DESCRIPTIONS.items()]
    desc_df = edges.sparkSession.createDataFrame(
        port_desc, schema="port int, port_description string"
    )
    dsts = nodes.select(F.col("node_id").alias("dst"), F.col("label").alias("destination"))
    return (
        _ip_labelled_edges(nodes, edges)
        .join(F.broadcast(desc_df), "port", "inner")
        .groupBy("source", "dst", "port", "port_description")
        .agg(F.count("*").alias("occurrences"))
        .join(dsts, "dst", "inner")
        .select(
            F.lit("suspicious_port").alias("anomaly_type"),
            F.col("source").alias("entity"),
            F.lit(0.85).alias("confidence_score"),
            "destination",
            "port",
            "port_description",
            "occurrences",
            F.lit("high").alias("severity"),
        )
        .orderBy(F.desc("occurrences"), "entity", "port")
    )


def anomaly_report(anomalies: DataFrame) -> dict[str, DataFrame]:
    """A10 (:343-394): by-type counts, by-severity counts, top-5 entities by
    summed confidence. Returns the three rollup frames."""
    by_type = anomalies.groupBy("anomaly_type").agg(F.count("*").alias("count"))
    by_severity = anomalies.groupBy("severity").agg(F.count("*").alias("count"))
    top_entities = (
        anomalies.groupBy("entity")
        .agg(F.round(F.sum("confidence_score"), 2).alias("total_score"))
        .orderBy(F.desc("total_score"), "entity")
        .limit(5)
    )
    return {"by_type": by_type, "by_severity": by_severity, "top_entities": top_entities}


def detect_all(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Union of the four detectors on a common (anomaly_type, entity,
    confidence_score, severity) projection, confidence desc
    (graph_anomaly_detector.py:76-106)."""
    common = ["anomaly_type", "entity", "confidence_score", "severity"]
    parts = [
        detect_degree_spikes(nodes, edges).select(*common),
        detect_fan_out(nodes, edges).select(*common),
        detect_protocol_rarity(edges).select(*common),
        detect_suspicious_port_access(nodes, edges).select(*common),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.desc("confidence_score"), "anomaly_type", "entity")


# --- path queries (J7/J8) -----------------------------------------------------


def undirected_edges(edges: DataFrame) -> DataFrame:
    """src↔dst symmetrized edge list for undirected path search
    (`-[*1..2]-` in rag_service.py:181-197 ignores direction)."""
    fwd = edges.select("src", "dst", "rel_type")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "rel_type")
    return fwd.unionByName(rev)


def two_hop_paths(edges: DataFrame, from_id: str, to_id: str) -> DataFrame:
    """J7: bounded 1..2-hop undirected paths between two node ids."""
    return paths_among(edges, [(from_id, to_id)])


def paths_among(edges: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Bounded 1..2-hop undirected paths between each ``(from, to)`` id pair
    — one self join per pair (e1.dst = e2.src), both directions via the
    symmetrized edge list. Parallel edges repeat a path, so rows are deduped
    by path before the limit: one row per path with the smallest ``rels``,
    the first 10 by (hops, path)."""
    und = undirected_edges(edges)
    rows = []
    for from_id, to_id in pairs:
        rows.append(
            und.filter((F.col("src") == from_id) & (F.col("dst") == to_id))
            .select(
                F.lit(1).alias("hops"),
                F.array(F.col("src"), F.col("dst")).alias("path"),
                F.array(F.col("rel_type")).alias("rels"),
            )
        )
        e1 = und.filter(F.col("src") == from_id).alias("e1")
        e2 = und.filter(F.col("dst") == to_id).alias("e2")
        rows.append(
            e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
            .filter(F.col("e1.dst") != to_id)
            .select(
                F.lit(2).alias("hops"),
                F.array(F.col("e1.src"), F.col("e1.dst"), F.col("e2.dst")).alias("path"),
                F.array(F.col("e1.rel_type"), F.col("e2.rel_type")).alias("rels"),
            )
        )
    if not rows:
        return edges.sparkSession.createDataFrame(
            [], "hops int, path array<string>, rels array<string>"
        )
    return (
        reduce(DataFrame.unionByName, rows)
        .groupBy("hops", "path").agg(F.min("rels").alias("rels"))
        .orderBy("hops", "path")
        .limit(10)
    )


def k_hop_reach(edges: DataFrame, rel_type: str, target_type_nodes: DataFrame,
                max_hops: int = 5) -> DataFrame:
    """J8: iterative bounded path expansion along one predicate (the
    LEADS_TO*1..5 attack-chain query, docs/CYPHER_QUERIES.md:12-21).

    Iterative self-join with per-iteration localCheckpoint-free unions —
    bounded at 5 hops so the plan stays shallow; frontier deduped each step.
    The filtered ``rel`` frame is localCheckpoint-ed: every hop re-joins it,
    and without materialization each of the 5 frontiers re-derives it from
    the raw edge scan (checkpoint, not cache, so a library call leaves no
    managed memory pinned once the caller drops the result).
    """
    rel = (
        edges.filter(F.col("rel_type") == rel_type)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    targets = target_type_nodes.select(F.col("node_id").alias("dst"))
    frontier = rel.join(targets, "dst", "left_semi").select(
        F.col("src").alias("origin"), F.col("dst").alias("terminal"),
        F.lit(1).alias("hops"),
    )
    result = frontier
    for hop in range(2, max_hops + 1):
        frontier = (
            rel.join(
                frontier.select(F.col("origin").alias("dst"), "terminal",
                                F.col("hops")),
                "dst",
            )
            .select(F.col("src").alias("origin"), "terminal",
                    (F.col("hops") + 1).alias("hops"))
            .dropDuplicates(["origin", "terminal", "hops"])
        )
        result = result.unionByName(frontier)
    return result.dropDuplicates(["origin", "terminal"]).orderBy("origin", "terminal")
