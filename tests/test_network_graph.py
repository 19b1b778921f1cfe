"""Telemetry path: parse → score → graph build → detectors on the planted
patterns of FIXTURES.md F2."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark import synth
from knowledge_graph_rag_spark.operators import detectors as D
from knowledge_graph_rag_spark.operators import graph_build as GB
from knowledge_graph_rag_spark.operators import network as N
from knowledge_graph_rag_spark.operators import querypack as Q


@pytest.fixture(scope="module")
def graph(spark):
    logs = synth.network_logs_df(spark, 600)
    conns = N.score_connections(N.parse_logs(logs)).cache()
    nodes = GB.telemetry_nodes(conns, "g1").cache()
    edges = GB.telemetry_edges(conns, "g1").cache()
    nodes.count(), edges.count()
    return conns, nodes, edges


def test_parse_drops_incomplete(spark):
    rows = [
        (None, "1.2.3.4", 80), ("1.2.3.4", None, 80), ("1.2.3.4", "5.6.7.8", None),
        ("10.0.0.1", "8.8.8.8", 443),
    ]
    logs = spark.createDataFrame(
        rows, "source_ip string, dest_ip string, dest_port int"
    ).select(
        F.lit(None).cast("timestamp").alias("timestamp"), "source_ip", "dest_ip",
        F.lit(None).cast("int").alias("source_port"), "dest_port",
        F.lit(None).cast("string").alias("protocol"),
        F.lit(None).cast("long").alias("bytes_sent"),
        F.lit(None).cast("long").alias("bytes_received"),
        F.lit(None).cast("double").alias("duration"),
        F.lit(None).cast("string").alias("action"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("string").alias("attack_type"),
    )
    parsed = N.parse_logs(logs).collect()
    assert len(parsed) == 1
    c = parsed[0]
    # defaults: protocol TCP upper, bytes 0, action allow (network_parser.py:117-134)
    assert c.protocol == "TCP" and c.bytes_sent == 0 and c.action == "allow"
    assert c.source_is_internal and not c.dest_is_internal
    assert c.service == "HTTPS" and not c.is_suspicious_port


def test_no_duplicate_nodes(graph):
    # test_comprehensive.py:291-306 invariant
    _, nodes, _ = graph
    assert nodes.count() == nodes.select("node_id").distinct().count()


def test_anomaly_fields_present(graph):
    # every analyzed row carries anomaly_score + is_anomaly in [0,1]
    conns, _, _ = graph
    bad = conns.filter(
        F.col("anomaly_score").isNull() | F.col("is_anomaly").isNull()
        | (F.col("anomaly_score") < 0) | (F.col("anomaly_score") > 1)
    ).count()
    assert bad == 0


def test_port_scan_detector(spark, graph):
    conns, _, _ = graph
    scans = {r.scanner_ip for r in N.detect_port_scan(conns, threshold=10).collect()}
    assert synth.SCANNER_IP in scans


def test_exfiltration_detector(graph):
    conns, _, _ = graph
    exfil = {r.source_ip for r in N.detect_data_exfiltration(conns, 10_000_000).collect()}
    assert exfil == {synth.EXFIL_IP}


def test_degree_spike_detector(graph):
    _, nodes, edges = graph
    spikes = {r.entity for r in D.detect_degree_spikes(nodes, edges).collect()}
    assert synth.DEGREE_SPIKE_IP in spikes


def test_fan_out_detector(graph):
    _, nodes, edges = graph
    rows = D.detect_fan_out(nodes, edges).collect()
    ents = {r.entity for r in rows}
    assert synth.SCANNER_IP in ents
    for r in rows:
        assert 0.0 <= r.confidence_score <= 0.95
        if r.unique_ports > 20:
            assert r.severity in ("high", "critical")


def test_fan_out_detector_limit(spark):
    # 12 (src, dst) pairs, each on 6 distinct ports: all 12 are fanned out
    nodes = spark.createDataFrame(
        [(f"s{i}", f"10.0.0.{i}", "IP", True) for i in range(12)]
        + [(f"d{i}", f"d{i}", "Port", False) for i in range(12)],
        "node_id string, label string, type string, is_internal boolean",
    )
    edges = spark.createDataFrame(
        [(f"s{i}", f"d{i}", p) for i in range(12) for p in range(6)],
        "src string, dst string, port int",
    )
    assert D.detect_fan_out(nodes, edges).count() == 12
    assert D.detect_fan_out(nodes, edges, limit=3).count() == 3


def test_protocol_rarity(graph):
    _, _, edges = graph
    rows = D.detect_protocol_rarity(edges).collect()
    protos = {r.entity for r in rows}
    assert "ICMP" in protos
    icmp = next(r for r in rows if r.entity == "ICMP")
    assert icmp.confidence_score == 0.7  # suspicious protocol bump


def test_multi_stage_template(graph):
    _, nodes, edges = graph
    rows = Q.multi_stage_attackers(nodes, edges).collect()
    assert synth.MULTI_STAGE_IP in {r.ip_address for r in rows}


def test_exploit_preparation_flagship(graph):
    _, nodes, edges = graph
    rows = Q.exploit_preparation(nodes, edges).collect()
    byip = {r.ip_address: r for r in rows}
    assert synth.RECON_EXPLOIT_IP in byip
    r = byip[synth.RECON_EXPLOIT_IP]
    # 15 distinct ports, 42 conns, top3 = 30/42 → 0.71
    assert r.ports_scanned == 15
    assert r.total_connections == 42
    assert abs(r.port_focus_ratio - 0.71) < 1e-9
    assert r.threat_level == "High - Targeted Attack"
    assert len(r.focused_targets) == 3


def test_top_talkers_and_topology(graph):
    _, nodes, edges = graph
    tt = Q.top_talkers(nodes, edges).collect()
    assert tt[0].ip_address == synth.DEGREE_SPIKE_IP  # 120 outgoing ×2 edge kinds
    topo = Q.network_topology(nodes, edges).collect()
    kinds = {r.node_type for r in topo}
    assert "Relationship: CONNECTED_TO" in kinds and "Port" in kinds


def test_anomaly_report_rollup(graph):
    _, nodes, edges = graph
    all_anoms = D.detect_all(nodes, edges).cache()
    rep = D.anomaly_report(all_anoms)
    types = {r.anomaly_type for r in rep["by_type"].collect()}
    assert {"degree_spike", "fan_out_port_scan", "rare_protocol"} <= types
    top = rep["top_entities"].collect()
    assert len(top) <= 5 and top[0].total_score >= top[-1].total_score


def test_ip_statistics_a1(graph):
    conns, _, _ = graph
    stats = {r.ip: r for r in N.ip_statistics(conns).collect()}
    scanner = stats[synth.SCANNER_IP]
    assert scanner.outgoing_connections == 25
    assert scanner.unique_ports_accessed == 25
    assert scanner.unique_destinations == 1
    assert scanner.is_internal
    target = stats[synth.SCAN_TARGET]
    assert target.incoming_connections == 25


def test_anomaly_summary_a5(graph):
    conns, _, _ = graph
    s = N.analyze_summary(conns).collect()[0]
    assert s.total_connections == conns.count()
    assert 0 < s.anomalies_detected <= s.total_connections
    assert abs(s.anomaly_percentage - 100.0 * s.anomalies_detected / s.total_connections) < 1e-9

    types = {r.anomaly_type for r in N.anomaly_type_counts(conns).collect()}
    assert any(t.startswith("large_external_transfer") for t in types)
    assert any(t.startswith("suspicious_port") for t in types)

    top = N.top_suspicious_ips(conns).collect()
    assert len(top) == 10
    assert top[0].total_score >= top[-1].total_score
    assert synth.EXFIL_IP in {r.ip for r in top}


def test_suspicious_port_detector_a9(graph):
    _, nodes, edges = graph
    rows = D.detect_suspicious_port_access(nodes, edges).collect()
    assert rows
    by_ent = {(r.entity, r.port): r for r in rows}
    assert (synth.MALWARE_PORT_IP, 4444) in by_ent
    r = by_ent[(synth.MALWARE_PORT_IP, 4444)]
    assert r.port_description == "Metasploit default"
    assert r.occurrences == 4 and r.confidence_score == 0.85 and r.severity == "high"


def test_ip_statistics_approximate(graph):
    """HLL variant of A1: within the 5% default rsd of exact counts."""
    conns, _, _ = graph
    exact = {r.ip: r for r in N.ip_statistics(conns).collect()}
    approx = {r.ip: r for r in N.ip_statistics(conns, approximate=True).collect()}
    assert set(exact) == set(approx)
    for ip, e in exact.items():
        a = approx[ip]
        assert a.outgoing_connections == e.outgoing_connections  # counts exact
        if e.unique_destinations >= 5:
            assert abs(a.unique_destinations - e.unique_destinations) <= max(
                2, 0.1 * e.unique_destinations
            )
