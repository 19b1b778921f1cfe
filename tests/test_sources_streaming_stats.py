"""CSV readers (format sniff + converters), streaming ingest, stats rollups."""

import json
import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark.sources import csv_readers as CR


@pytest.fixture()
def unsw_headerless(tmp_path):
    # 49-column headerless rows, first col an IP (auto_processor.py:68-71)
    rows = []
    for i in range(6):
        row = [f"10.0.0.{i+1}", "1024", "192.168.1.5", "80", "tcp", "FIN", "1.5",
               "5000", "2000"] + ["0"] * 38 + ["Exploits" if i % 2 else "", "1" if i % 2 else "0"]
        rows.append(",".join(row))
    p = tmp_path / "unsw.csv"
    p.write_text("\n".join(rows))
    return str(p)


def test_detect_formats(tmp_path, unsw_headerless):
    fmt, cols = CR.detect_dataset_format(unsw_headerless)
    assert fmt == "unsw_nb15" and cols == CR.UNSW_NB15_COLUMNS

    pre = tmp_path / "pre.csv"
    pre.write_text("id,dur,sbytes,dbytes,proto,service,attack_cat,label\n"
                   "1,0.5,100,200,tcp,http,Normal,0\n")
    assert CR.detect_dataset_format(str(pre))[0] == "unsw_nb15_preprocessed"

    gen = tmp_path / "gen.csv"
    gen.write_text("src_ip,dst_ip,dport,proto\n1.2.3.4,5.6.7.8,443,tcp\n")
    assert CR.detect_dataset_format(str(gen))[0] == "unknown"

    cic = tmp_path / "cic.csv"
    cic.write_text("Destination Port,Flow Duration,Label\n80,100,BENIGN\n")
    assert CR.detect_dataset_format(str(cic))[0] == "cicids2017"


def test_read_unsw_headerless(spark, unsw_headerless):
    df = CR.read_unsw_nb15(spark, unsw_headerless).orderBy("timestamp")
    rows = df.collect()
    assert len(rows) == 6
    assert rows[0].source_ip == "10.0.0.1" and rows[0].dest_port == 80
    assert rows[0].protocol == "TCP" and rows[0].bytes_sent == 5000
    assert rows[1].action == "deny" and rows[1].attack_type == "Exploits"
    assert rows[0].action == "allow" and rows[0].attack_type is None
    # deterministic fixed-epoch timestamps, +1s per row
    assert str(rows[0].timestamp).startswith("2026-01-01 00:00:00")
    assert str(rows[1].timestamp).startswith("2026-01-01 00:00:01")


def test_read_preprocessed_synthetic_ips(spark, tmp_path):
    p = tmp_path / "pre.csv"
    lines = ["id,dur,sbytes,dbytes,proto,service,attack_cat,label"]
    for i in range(10):
        lines.append(f"{i},0.1,10,20,tcp,http,{'Exploits' if i % 5 == 0 else 'Normal'},{1 if i % 5 == 0 else 0}")
    p.write_text("\n".join(lines))
    df = CR.read_unsw_preprocessed(spark, str(p))
    rows = df.collect()
    assert len(rows) == 10
    # id_to_ip determinism (auto_processor.py:312-326): even ids → 192.168.x.x
    by_port = {r.source_port: r for r in rows}
    r0 = by_port[1024]  # id 0
    assert r0.source_ip == "192.168.0.0" and r0.dest_port == 80
    r1 = by_port[1025]  # id 1 odd → 10.x
    assert r1.source_ip.startswith("10.")
    # id 0 % 5 == 0 → external dest
    assert r0.dest_ip.split(".")[0] == "59"


def test_read_cicids2017(spark, tmp_path):
    """S5: attack-aware deterministic IP synthesis (auto_processor.py:409-477
    with hash-of-row replacing random, per SURVEY.md S5)."""
    p = tmp_path / "cic.csv"
    p.write_text(
        " Destination Port, Flow Duration, Label\n"
        "80,100,BENIGN\n"
        "22,50,PortScan\n"
        "443,70,DDoS\n"
        "3389,10,Bot\n"
        "21,5,Web Attack Brute Force\n"
    )
    df = CR.convert_csv_to_logs(spark, str(p)).orderBy("timestamp")
    rows = df.collect()
    assert len(rows) == 5
    benign, portscan, ddos, bot, brute = rows
    # BENIGN → internal client → internal server pool
    assert benign.source_ip.startswith("192.168.1.")
    assert 10 <= int(benign.source_ip.rsplit(".", 1)[1]) <= 99
    assert benign.dest_ip in CR.CICIDS_INTERNAL_SERVERS
    assert benign.action == "allow" and benign.attack_type is None
    # per-attack source patterns
    assert portscan.source_ip.startswith("45.33.")
    assert bot.source_ip.startswith("185.")
    assert brute.source_ip.startswith("185.220.")
    first_octet = int(ddos.source_ip.split(".")[0])
    assert 1 <= first_octet <= 223
    for r in (portscan, ddos, bot, brute):
        assert r.action == "deny" and r.attack_type is not None
        assert r.dest_ip in CR.CICIDS_INTERNAL_SERVERS
    assert (benign.dest_port, portscan.dest_port) == (80, 22)
    # determinism: re-read gives identical rows
    again = CR.convert_csv_to_logs(spark, str(p)).orderBy("timestamp").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # IPs present in the file are passed through, not synthesized
    p2 = tmp_path / "cic_ips.csv"
    p2.write_text(
        "Source IP,Destination IP,Destination Port,Label\n"
        "172.16.0.1,192.168.10.50,8080,DoS Hulk\n"
    )
    r = CR.convert_csv_to_logs(spark, str(p2)).collect()[0]
    assert r.source_ip == "172.16.0.1" and r.dest_ip == "192.168.10.50"
    assert r.dest_port == 8080 and r.attack_type == "DoS Hulk"


def test_document_file_sources(spark, tmp_path):
    """S8: binary document → text extraction per format, honest codec gating."""
    from knowledge_graph_rag_spark.sources import documents as DS

    (tmp_path / "a.txt").write_text("Acme Corp shipped Widget 3000.")
    (tmp_path / "b.html").write_text(
        "<html><head><style>p{color:red}</style></head><body>"
        "<h1>Title</h1><p>Hello &amp; welcome</p>"
        "<script>alert(1)</script></body></html>"
    )
    (tmp_path / "c.doc").write_bytes(b"\x00\x01plain words inside\x02\x03")
    (tmp_path / "d.pdf").write_bytes(b"%PDF-1.4 fake")  # exotic: no streams
    (tmp_path / "e.xyz").write_bytes(b"???")
    from knowledge_graph_rag_spark import synth

    (tmp_path / "f.docx").write_bytes(
        synth.minimal_docx_bytes(("Globex acquired Initech.", "Q2 summary."))
    )
    (tmp_path / "g.pdf").write_bytes(
        synth.minimal_pdf_bytes(("Hooli launched Nucleus.", "Page one."))
    )
    out = DS.read_document_files(spark, str(tmp_path) + "/*")
    rows = {r.doc_id.rsplit("/", 1)[1]: r for r in out.collect()}
    assert rows["a.txt"].text == "Acme Corp shipped Widget 3000."
    assert rows["a.txt"].decode_status == "ok"
    html_text = rows["b.html"].text
    assert "Title" in html_text and "Hello & welcome" in html_text
    assert "alert" not in html_text and "color" not in html_text
    assert "plain words inside" in rows["c.doc"].text
    assert "\x00" not in rows["c.doc"].text
    # stdlib extractors: real docx/pdf decode ok WITHOUT codec libs
    assert rows["f.docx"].decode_status == "ok"
    assert rows["f.docx"].text == "Globex acquired Initech.\nQ2 summary."
    if not DS.PDF_SUPPORT:  # stdlib FlateDecode path
        assert rows["g.pdf"].decode_status == "ok"
        assert rows["g.pdf"].text == "Hooli launched Nucleus.\nPage one."
        # a PDF with no text streams stays honestly undecodable
        assert rows["d.pdf"].decode_status == "decoder_unavailable"
    assert rows["e.xyz"].decode_status == "unsupported_format"

    # interleaved adapter feeds the standard extraction pipeline —
    # including the stdlib-decoded docx/pdf text
    from knowledge_graph_rag_spark.operators.extract import explode_spans

    docs = DS.to_interleaved_documents(out)
    spans = explode_spans(docs)
    texts = {r.text for r in spans.collect()}
    assert "Acme Corp shipped Widget 3000." in texts
    assert "Globex acquired Initech.\nQ2 summary." in texts
    assert any("Hooli launched Nucleus." in t for t in texts)


def test_url_documents_stub_fetch(spark):
    from knowledge_graph_rag_spark.sources import documents as DS

    urls = ["http://example.com/a", "http://example.com/b"]
    out = DS.read_url_documents(spark, urls).collect()
    assert {r.doc_id for r in out} == set(urls)
    for r in out:
        assert r.decode_status == "ok_stub"
        assert "Document" in r.text and "alert" not in (r.text or "")
    # deterministic: re-run identical
    again = DS.read_url_documents(spark, urls).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in again}
    # injectable fetcher with a poison URL → row-level error, not job failure
    def fetcher(u):
        if u.endswith("bad"):
            raise ValueError("boom")
        return "<p>real</p>"

    rows = {
        r.doc_id: r
        for r in DS.read_url_documents(
            spark, ["http://x/ok", "http://x/bad"], fetcher=fetcher
        ).collect()
    }
    assert rows["http://x/ok"].text == "real"
    assert rows["http://x/bad"].decode_status == "error:ValueError"


def test_read_generic_aliases(spark, tmp_path):
    p = tmp_path / "gen.csv"
    p.write_text(
        "src_ip,destination_ip,dport,proto,bytes\n"
        "1.2.3.4,5.6.7.8,443,udp,1000\n"
        ",9.9.9.9,80,tcp,5\n"  # missing src → dropped
    )
    rows = CR.read_generic(spark, str(p)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_ip, r.dest_ip, r.dest_port, r.protocol, r.bytes_sent) == (
        "1.2.3.4", "5.6.7.8", 443, "UDP", 1000,
    )


def test_streaming_ingest(spark, tmp_path):
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.ingest import (
        stream_logs,
        stream_to_graph_sink,
    )

    in_dir = tmp_path / "drop"
    in_dir.mkdir()
    logs = [
        {"timestamp": "2026-01-01T00:00:00", "source_ip": "10.0.0.1",
         "dest_ip": "8.8.8.8", "source_port": 1024, "dest_port": 443,
         "protocol": "tcp", "bytes_sent": 100, "bytes_received": 10,
         "duration": 0.1, "action": "allow", "user": None, "attack_type": None},
        {"timestamp": "2026-01-01T00:00:01", "source_ip": "10.0.0.2",
         "dest_ip": "10.0.0.3", "source_port": 1025, "dest_port": 4444,
         "protocol": "tcp", "bytes_sent": 50, "bytes_received": 5,
         "duration": 0.2, "action": "allow", "user": None, "attack_type": "DoS"},
    ]
    (in_dir / "batch1.json").write_text("\n".join(json.dumps(x) for x in logs))

    store = GraphStore(spark, str(tmp_path / "wh"))
    scored = stream_logs(spark, str(in_dir))
    q = stream_to_graph_sink(scored, store, "g_stream", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    from knowledge_graph_rag_spark.operators import retrieval as R

    def check_index(nodes):
        # the sink maintains the entity-index invariant like every other
        # node-commit path: index partition == entity_token_index(current nodes)
        expected = {tuple(r) for r in R.entity_token_index(nodes).collect()}
        actual = {
            tuple(r)
            for r in store.read(R.ENTITY_INDEX_TABLE)
            .filter(F.col("graph_id") == "g_stream")
            .select("graph_id", "node_id", "token", "tok_prefix")
            .collect()
        }
        assert actual == expected and actual

    nodes, edges = store.get_graph("g_stream")
    first_ids = {r.node_id for r in nodes.collect()}
    assert {"ip_10_0_0_1", "ip_8_8_8_8", "port_4444", "attack_dos"} <= first_ids
    assert edges.filter(F.col("rel_type") == "CONNECTED_TO").count() == 2
    assert any(k.startswith("stream_batch::g_stream") for k in store.completed_stages())
    check_index(nodes)

    # a second micro-batch, on restart from the same checkpoint, MERGEs into
    # the partition the first one wrote (whose port nodes carry props)
    second = dict(logs[0], timestamp="2026-01-01T00:00:02", source_ip="10.0.0.9",
                  dest_ip="10.0.0.3", source_port=1026, dest_port=22)
    (in_dir / "batch2.json").write_text(json.dumps(second))
    q = stream_to_graph_sink(scored, store, "g_stream", str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    nodes, edges = store.get_graph("g_stream")
    ids = {r.node_id for r in nodes.collect()}
    assert ids == first_ids | {"ip_10_0_0_9", "port_22"}
    assert edges.filter(F.col("rel_type") == "CONNECTED_TO").count() == 3
    check_index(nodes)


def test_stream_documents_to_kg_matches_batch(spark, tmp_path):
    """North-star streaming: interleaved docs dropped as parquet files fold
    into the graph per micro-batch (foreachBatch → run_incremental). The
    final nodes/edges and the entity index equal a from-scratch BATCH run
    over the same corpus, and a restarted stream replays nothing (manifest +
    checkpoint idempotence)."""
    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators import retrieval as R
    from knowledge_graph_rag_spark.plans import pipeline
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.ingest import (
        stream_documents,
        stream_documents_to_kg,
    )

    drop = tmp_path / "docs_drop"
    drop.mkdir()
    # two "arrivals" as separate parquet files, one micro-batch each
    synth.documents_df(spark, 25).write.parquet(str(drop / "f1.parquet"))
    synth.documents_df(spark, 40).filter(
        F.col("doc_id") >= "doc00000025"
    ).write.parquet(str(drop / "f2.parquet"))

    store = GraphStore(spark, str(tmp_path / "wh"))
    q = stream_documents_to_kg(
        stream_documents(spark, str(drop) + "/*", max_files_per_trigger=1),
        store, "kg_s", str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    ref_store = GraphStore(spark, str(tmp_path / "ref_wh"))
    pipeline.run(spark, synth.documents_df(spark, 40), ref_store,
                 graph_id="kg_s", run_id="batch",
                 enable_lsh_canonicalization=False,
                 bucketed_query_tables=False)

    got_nodes = {r.node_id for r in store.read("nodes").collect()}
    ref_nodes = {r.node_id for r in ref_store.read("nodes").collect()}
    assert got_nodes == ref_nodes and got_nodes
    got_edges = {
        (r.src, r.dst, r.rel_type) for r in store.read("edges").collect()
    }
    ref_edges = {
        (r.src, r.dst, r.rel_type) for r in ref_store.read("edges").collect()
    }
    assert got_edges == ref_edges
    # entity index stayed consistent through the streaming fold-ins
    idx = {
        (r.node_id, r.token)
        for r in store.read(R.ENTITY_INDEX_TABLE)
        .filter(F.col("graph_id") == "kg_s").collect()
    }
    ref_idx = {
        (r.node_id, r.token)
        for r in ref_store.read(R.ENTITY_INDEX_TABLE)
        .filter(F.col("graph_id") == "kg_s").collect()
    }
    assert idx == ref_idx

    # restart over the same checkpoint: nothing replays, store unchanged
    snaps_before = store.current_snapshot("nodes")
    q2 = stream_documents_to_kg(
        stream_documents(spark, str(drop) + "/*", max_files_per_trigger=1),
        store, "kg_s", str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert store.current_snapshot("nodes") == snaps_before


def test_stats_and_quality(spark):
    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators import graph_build as GB
    from knowledge_graph_rag_spark.operators import network as N
    from knowledge_graph_rag_spark.operators import stats as ST

    conns = N.score_connections(N.parse_logs(synth.network_logs_df(spark, 300)))
    nodes = GB.telemetry_nodes(conns, "g").cache()
    edges = GB.telemetry_edges(conns, "g").cache()

    s = ST.graph_stats(nodes, edges).collect()[0]
    assert s.total_nodes == nodes.count() and s.total_edges == edges.count()
    assert s.internal_ips + s.external_ips == s.ip_nodes
    assert s.attacker_ips > 0

    svc = ST.service_distribution(nodes).collect()
    assert svc and svc[0]["count"] >= svc[-1]["count"]

    att = {r.attack_type for r in ST.attack_distribution(nodes).collect()}
    assert "DoS" in att or "Exploits" in att

    dq = ST.data_quality(nodes, edges).collect()[0]
    assert dq.invalid_labels == 0 and dq.dangling_edges == 0
    # every port in this graph has a USES_PORT edge by construction
    assert dq.orphaned_ports == 0

    # planted defects are counted
    bad_nodes = nodes.unionByName(
        nodes.limit(1).withColumn("label", F.lit("")).withColumn(
            "node_id", F.lit("zz_bad")
        )
    )
    bad_edges = edges.unionByName(
        edges.limit(1).withColumn("src", F.lit("zz_missing"))
    )
    dq2 = ST.data_quality(bad_nodes, bad_edges).collect()[0]
    assert dq2.invalid_labels == 1 and dq2.dangling_edges == 1


def test_data_quality_is_lazy_single_plan(spark, count_jobs):
    """A19 must be ONE declarative plan: constructing the result DataFrame
    runs zero Spark jobs (the old shape fired 4 driver-side counts)."""
    from knowledge_graph_rag_spark.operators import stats as ST

    nodes = spark.createDataFrame(
        [("g", "n1", "A", "Port"), ("g", "n2", "B", "InternalIP")],
        "graph_id string, node_id string, label string, type string",
    )
    edges = spark.createDataFrame(
        [("g", "e1", "n2", "n1", "USES_PORT")],
        "graph_id string, edge_id string, src string, dst string, rel_type string",
    )
    with count_jobs() as jobs:
        df = ST.data_quality(nodes, edges)
    assert jobs == []
    row = df.collect()[0]
    assert (row.invalid_labels, row.orphaned_ports, row.dangling_edges) == (0, 0, 0)


def test_chunk_text_parity():
    """P9 chunking semantics vs the reference algorithm shape: coverage with
    overlap, boundary-aware breaks (graph_extractor.py:583-619)."""
    from knowledge_graph_rag_spark.functions.text import chunk_text

    text = " ".join(f"sentence number {i} ends here." for i in range(400))
    chunks = chunk_text(text, chunk_size=500, overlap=50)
    assert all(len(c) <= 500 for c in chunks)
    # full coverage: every chunk's start must appear in the original
    joined = "".join(chunks)
    assert len(joined) >= len(text)  # overlap duplicates content
    assert chunks[0].startswith("sentence number 0")
    assert text.rstrip(".").split()[-2] in chunks[-1]
    short = chunk_text("tiny", 500, 50)
    assert short == ["tiny"]


def test_windowed_event_counts_batch_and_stream(spark, tmp_path):
    """Windowed counts: identical semantics on a static frame and a stream
    (availableNow) of the same rows."""
    import json as _json

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.schemas import NETWORK_LOG_SCHEMA
    from knowledge_graph_rag_spark.streaming.windows import windowed_event_counts

    logs = synth.network_logs_df(spark, 240).cache()
    batch = windowed_event_counts(logs, window_duration="2 minutes").collect()
    batch_map = {(str(r.window_start), r.key): (r.events, r.bytes) for r in batch}
    assert batch_map and sum(e for e, _ in batch_map.values()) == logs.count()

    # same rows through a file stream
    in_dir = tmp_path / "stream_in"
    in_dir.mkdir()
    pdf = logs.toPandas()
    with open(in_dir / "logs.json", "w") as f:
        for rec in pdf.to_dict("records"):
            rec["timestamp"] = rec["timestamp"].isoformat()
            f.write(_json.dumps({k: v for k, v in rec.items() if v == v or v is None}) + "\n")
    stream = spark.readStream.schema(NETWORK_LOG_SCHEMA).json(str(in_dir))
    out = windowed_event_counts(stream, window_duration="2 minutes")
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_map = {
        (str(r.window_start), r.key): (r.events, r.bytes)
        for r in spark.sql("select * from win_counts").collect()
    }
    assert stream_map == batch_map


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches are dropped
    within the watermark horizon; distinct texts all survive."""
    import json as _json
    from datetime import datetime, timedelta

    from knowledge_graph_rag_spark.streaming.windows import stream_dedup_exact

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        rows.append({
            "doc_id": f"d{i}",
            "ts": (base + timedelta(minutes=i)).isoformat(),
            "text": f"text-{i % 10}",  # each text repeats 3×
        })
    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()
    for fname, chunk in (("f1.json", rows[:15]), ("f2.json", rows[15:])):
        with open(in_dir / fname, "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("doc_id string, ts timestamp, text string").json(
        str(in_dir)
    )
    q = (
        stream_dedup_exact(stream)
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dd_out").collect()
    assert len(got) == 10
    assert {r.text for r in got} == {f"text-{i}" for i in range(10)}
    # batch twin agrees on the kept set size
    batch = stream_dedup_exact(
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in rows], "doc_id string, text string"
        ).withColumn("ts", F.current_timestamp())
    )
    assert batch.count() == 10


def test_stateful_ewma_stream_matches_kernel(spark, tmp_path):
    """applyInPandasWithState EWMA anomalies: the streamed result (two files →
    two micro-batches, so state genuinely crosses a batch boundary) equals the
    pure kernel applied per key in timestamp order — and a planted level
    shift is flagged."""
    import json as _json
    from datetime import datetime, timedelta

    from knowledge_graph_rag_spark.streaming.stateful import (
        ewma_anomalies,
        ewma_update,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for u in ("a", "b"):
        for i in range(40):
            v = 10.0 + (i % 3)  # stable signal
            if u == "a" and i == 30:
                v = 500.0  # planted level shift
            rows.append({"user_id": u, "ts": base + timedelta(minutes=i), "value": v})
    in_dir = tmp_path / "ewma_in"
    in_dir.mkdir()
    half = len(rows) // 2
    by_ts = sorted(rows, key=lambda r: r["ts"])
    for fname, chunk in (("f1.json", by_ts[:half]), ("f2.json", by_ts[half:])):
        with open(in_dir / fname, "w") as f:
            for r in chunk:
                f.write(_json.dumps({**r, "ts": r["ts"].isoformat()}) + "\n")

    stream = spark.readStream.schema(
        "user_id string, ts timestamp, value double"
    ).json(str(in_dir))
    q = (
        ewma_anomalies(stream, alpha=0.3, z_thresh=4.0, warmup=5)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, str(r.ts)): (r.value, r.ewma, r.flagged)
        for r in spark.sql("select * from ewma_out").collect()
    }
    assert len(got) == len(rows)

    # pure-kernel expectation per key in ts order
    for u in ("a", "b"):
        series = [r for r in rows if r["user_id"] == u]
        vals = [r["value"] for r in sorted(series, key=lambda r: r["ts"])]
        expect, *_ = ewma_update(vals, 0.0, 0.0, 0, 0.3, 4.0, 5)
        for r, (v, ewma_before, flagged) in zip(
            sorted(series, key=lambda r: r["ts"]), expect
        ):
            gv, ge, gf = got[(u, str(r["ts"]))]
            assert gv == v and gf == flagged
            assert abs(ge - round(ewma_before, 6)) < 1e-9
    # the planted shift was flagged; the stable key never was
    assert got[("a", str(base + timedelta(minutes=30)))][2] is True
    assert not any(f for (k, _), (_, _, f) in got.items() if k == "b")


def test_session_window_batch_parity(spark):
    """Native session_window sessionization equals the gaps-and-islands
    window-function form (per key: same session count and same multiset of
    per-session event counts) on the same static frame."""
    from collections import Counter

    from pyspark.sql import Window

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.streaming.windows import session_windows

    logs = synth.network_logs_df(spark, 300).cache()
    gap_sec = 120
    native = session_windows(
        logs, key_col="source_ip", gap=f"{gap_sec} seconds"
    ).collect()
    native_counts = Counter()
    for r in native:
        native_counts[(r.key, r.n_events)] += 1

    w = Window.partitionBy("source_ip").orderBy("timestamp", "dest_port", "dest_ip")
    ts = F.col("timestamp").cast("long")
    islands = (
        logs.withColumn(
            "new_sess",
            # session_window merges an event landing exactly at prev.ts+gap
            # (window end is inclusive for the merge), so a NEW session needs
            # a strictly larger gap
            F.when(
                F.lag(ts).over(w).isNull() | ((ts - F.lag(ts).over(w)) > gap_sec),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("source_ip", "sess_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    )
    island_counts = Counter()
    for r in islands:
        island_counts[(r.source_ip, r.n_events)] += 1
    assert native_counts == island_counts


def test_stream_curation_matches_batch(spark, tmp_path):
    """Streaming curation == batch curation on the same docs (near-dup stage
    aside — stream is exact-dedup + quality + sample only): accepted ids and
    token stats agree, each batch commits its own partition, and a restart
    with the same checkpoint replays nothing (exactly-once)."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import (
        stream_documents_to_curation,
    )

    rows = [
        ("d00", "the quick brown fox jumps over the lazy dog by the river"),
        ("d01", "a calm essay on parquet row groups and predicate pushdown"),
        ("d02", "the quick brown fox jumps over the lazy dog by the river"),  # dup of d00
        ("d03", "@#$% ^&*! ~~~ ++=="),                                        # quality drop
        ("d04", "broadcast joins and adaptive query execution explained at length"),
        ("d05", "a calm essay on parquet row groups and predicate pushdown"),  # dup of d01, later batch
        ("d06", "steady prose about shuffle partitions and skew mitigation today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    # drop-dir: one file per batch, listed (and thus processed) in id order
    drop = tmp_path / "drop"
    drop.mkdir()
    for i, chunk in enumerate([rows[:3], rows[3:5], rows[5:]]):
        spark.createDataFrame(chunk, "doc_id string, text string").coalesce(
            1
        ).write.parquet(str(drop / f"part{i:02d}"))

    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop) + "/part*")
    )
    store = GraphStore(spark, str(tmp_path / "wh"))
    q = stream_documents_to_curation(
        stream, store, "s1", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    got_ids = {r.doc_id for r in store.read("dp_s1_stream_docs").collect()}

    bstore = GraphStore(spark, str(tmp_path / "bwh"))
    datapipe.curate(spark, docs, bstore, dataset_id="b1",
                    near_dup_max_dist=0.01)
    want = {r.doc_id for r in bstore.read("dp_b1_token_stats").collect()}
    assert got_ids == want and "d00" in got_ids and "d03" not in got_ids
    assert "d02" not in got_ids and "d05" not in got_ids  # cross-batch dedup

    stats_s = {
        (r.doc_id, r.ws_tokens, r.bpe_tokens, r.chars)
        for r in store.read("dp_s1_stream_token_stats").collect()
    }
    stats_b = {
        (r.doc_id, r.ws_tokens, r.bpe_tokens, r.chars)
        for r in bstore.read("dp_b1_token_stats").collect()
    }
    assert stats_s == stats_b

    # per-batch partitions, not history rewrites
    parts = {
        r.graph_id for r in store.read("dp_s1_stream_docs")
        .select("graph_id").distinct().collect()
    }
    assert len(parts) >= 2

    # restart with the same checkpoint: replays nothing
    before = store.read("dp_s1_stream_docs").count()
    stream2 = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop) + "/part*")
    )
    q2 = stream_documents_to_curation(
        stream2, store, "s1", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert store.read("dp_s1_stream_docs").count() == before


def test_stream_curation_crash_replay_no_data_loss(spark, tmp_path):
    """A batch that crashes AFTER the hashes commit but BEFORE mark_done
    must replay to the same final state — the replay must not dedup the
    batch against its own partial hashes partition (that path silently
    committed an empty docs partition)."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import _fold_batch

    rows = [
        ("d00", "a calm essay on parquet row groups and predicate pushdown "
                "written in steady unhurried prose"),
        ("d01", "broadcast joins and adaptive query execution explained at "
                "length with worked examples throughout"),
    ]
    batch = spark.createDataFrame(rows, "doc_id string, text string")
    store = GraphStore(spark, str(tmp_path / "wh"))

    real_mark_done = store.mark_done
    calls = {"n": 0}

    def crashing_mark_done(stage, unit="", **meta):
        if stage == "dp_stream" and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("simulated crash before the done marker")
        return real_mark_done(stage, unit, **meta)

    store.mark_done = crashing_mark_done
    try:
        _fold_batch(batch, store, "cr", 0, sample_fraction=1.0)
    except RuntimeError:
        pass
    # crashed attempt left the hashes partition behind but no done marker
    assert store.read("dp_cr_stream_hashes").count() == 2
    assert not store.is_done("dp_stream", "cr::b0")

    _fold_batch(batch, store, "cr", 0, sample_fraction=1.0)  # replay
    assert store.is_done("dp_stream", "cr::b0")
    got = {r.doc_id for r in store.read("dp_cr_stream_docs").collect()}
    assert got == {"d00", "d01"}  # no data loss
    assert store.read("dp_cr_stream_hashes").count() == 2  # idempotent

    # a THIRD call is a guarded no-op (exactly-once)
    _fold_batch(batch, store, "cr", 0, sample_fraction=1.0)
    assert store.read("dp_cr_stream_docs").count() == 2


def test_stream_curation_subsample_dedup_parity(spark, tmp_path):
    """With sample_fraction < 1, a later-batch duplicate of a SAMPLED-OUT
    doc must still be deduped (hashes are recorded pre-sample): the batch
    pipeline dedups the whole corpus before sampling, so content X whose
    first-seen representative was sampled out is absent from both."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import _fold_batch

    X = ("a steady account of shuffle partitions and adaptive execution "
         "written in calm unhurried prose for this test")
    Y = ("a completely different essay on parquet row groups and predicate "
         "pushdown with worked examples throughout")
    store = GraphStore(spark, str(tmp_path / "wh"))
    # d002's hash bucket >= 32768 → sampled OUT at fraction 0.5;
    # d000/d001 are sampled IN (precomputed md5 buckets)
    b1 = spark.createDataFrame([("d002", X), ("d001", Y)],
                               "doc_id string, text string")
    _fold_batch(b1, store, "sp", 0, sample_fraction=0.5)
    accepted1 = {r.doc_id for r in store.read("dp_sp_stream_docs").collect()}
    assert accepted1 == {"d001"}  # d002 sampled out
    # its content hash is still recorded
    assert store.read("dp_sp_stream_hashes").count() == 2

    # batch 2: d000 duplicates X (would be sampled IN) — must be deduped,
    # matching the batch pipeline's dedup-before-sample order
    b2 = spark.createDataFrame([("d000", X)], "doc_id string, text string")
    _fold_batch(b2, store, "sp", 1, sample_fraction=0.5)
    accepted2 = {r.doc_id for r in store.read("dp_sp_stream_docs").collect()}
    assert accepted2 == {"d001"}  # d000 dropped as a duplicate of d002


def test_stream_curation_online_near_dup(spark, tmp_path):
    """near_dup_online=True drops cross-BATCH near-dups at ingest via the
    persisted bucket index (no compaction needed), keeps first-seen, verifies
    candidates when the threshold knob is set, and stays exactly-once on
    restart; with the knob off the near-dups are admitted (pre-r05
    behavior)."""
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import (
        read_curated,
        stream_documents_to_curation,
    )

    base = ("the patient crane waits beside the shallow river bend while "
            "morning fog settles over the quiet water meadow slowly")
    other = ("a calm essay on parquet row groups and predicate pushdown "
             "for long string columns with dictionary encoding")
    rows_b0 = [("d00", base), ("d01", other)]
    rows_b1 = [
        ("d10", base.replace("crane", "heron")),   # near-dup of d00 (batch 0)
        ("d11", "completely fresh prose about broadcast joins and adaptive "
                "query execution strategies in modern engines"),
    ]
    rows_b2 = [
        ("d20", other.replace("calm", "long")),    # near-dup of d01 (batch 0)
        # near-dup of d21's smaller sibling within the SAME batch
        ("d21", "steady notes about shuffle partition skew and salting "
                "mitigations applied to heavy aggregation keys today"),
        ("d22", "steady notes about shuffle partition skew and salting "
                "mitigations applied to heavy aggregation keys tonight"),
    ]

    def run(dsid, **kw):
        drop = tmp_path / f"drop_{dsid}"
        drop.mkdir()
        for i, chunk in enumerate([rows_b0, rows_b1, rows_b2]):
            spark.createDataFrame(
                chunk, "doc_id string, text string"
            ).coalesce(1).write.parquet(str(drop / f"part{i:02d}"))
        stream = (
            spark.readStream.schema("doc_id string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop) + "/part*")
        )
        store = GraphStore(spark, str(tmp_path / f"wh_{dsid}"))
        q = stream_documents_to_curation(
            stream, store, dsid,
            checkpoint_dir=str(tmp_path / f"ckpt_{dsid}"), **kw
        )
        q.awaitTermination(240)
        return store, {r.doc_id for r in read_curated(store, dsid).collect()}

    store_on, kept_on = run(
        "nd1", near_dup_online=True, near_dup_verify_threshold=0.3
    )
    # cross-batch near-dups dropped at ingest, first-seen survives;
    # in-batch larger-id near-dup (d22) dropped too
    assert kept_on == {"d00", "d01", "d11", "d21"}
    # the index table carries one partition per batch that kept docs
    idx = store_on.read("dp_nd1_stream_lshidx")
    assert {r.graph_id for r in idx.select("graph_id").distinct().collect()} \
        == {"b0", "b1", "b2"}
    # index holds only survivors' buckets
    assert {r.doc_id for r in idx.select("doc_id").distinct().collect()} \
        == kept_on

    # restart with the same checkpoint: nothing replays, corpus unchanged
    stream2 = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "drop_nd1") + "/part*")
    )
    q2 = stream_documents_to_curation(
        stream2, store_on, "nd1",
        checkpoint_dir=str(tmp_path / "ckpt_nd1"),
        near_dup_online=True, near_dup_verify_threshold=0.3,
    )
    q2.awaitTermination(120)
    from knowledge_graph_rag_spark.streaming.curation import read_curated as rc
    assert {r.doc_id for r in rc(store_on, "nd1").collect()} == kept_on

    # knob off: near-dups are admitted (deferred-to-compaction behavior)
    _, kept_off = run("nd0")
    assert {"d10", "d20", "d22"} <= kept_off


def test_stream_curation_decontam_pii_matches_batch(spark, tmp_path):
    """Streaming decontam + PII twins == datapipe.curate with the same knobs
    on the same docs (batches in doc_id order): identical accepted ids AND
    identical redacted text."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import (
        read_curated,
        stream_documents_to_curation,
    )

    bench_txt = ("held out benchmark evaluation question about adaptive "
                 "shuffle partition tuning strategies")
    rows = [
        ("d00", "the quick brown fox jumps over the lazy dog near the "
                "river bank while herons watch from the reeds"),
        ("d01", "leaked copy of the held out benchmark evaluation question "
                "about adaptive shuffle partition tuning for training"),
        ("d02", "contact the maintainer at owner@example.org for any "
                "questions about this plainly written document"),
        ("d03", "a completely separate document describing parquet row "
                "groups and predicate pushdown in steady prose"),
        ("d04", "broadcast joins and adaptive query execution explained "
                "in some depth with steady cadence and plain words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bench = spark.createDataFrame(
        [("b1", bench_txt)], "doc_id string, text string"
    )

    bstore = GraphStore(spark, str(tmp_path / "bwh"))
    datapipe.curate(spark, docs, bstore, dataset_id="b", near_dup_max_dist=0.2,
                    benchmark=bench, decontam_ngram=3, pii_scrub=True)
    batch = {r.doc_id: r.text
             for r in bstore.read("dp_b_sample").collect()}

    drop = tmp_path / "drop"
    drop.mkdir()
    for i, chunk in enumerate([rows[:2], rows[2:4], rows[4:]]):
        spark.createDataFrame(chunk, "doc_id string, text string").coalesce(
            1
        ).write.parquet(str(drop / f"part{i:02d}"))
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop) + "/part*")
    )
    sstore = GraphStore(spark, str(tmp_path / "swh"))
    q = stream_documents_to_curation(
        stream, sstore, "s", checkpoint_dir=str(tmp_path / "ckpt"),
        benchmark=bench, decontam_ngram=3, pii_scrub=True,
    )
    q.awaitTermination(240)
    streamed = {r.doc_id: r.text for r in read_curated(sstore, "s").collect()}
    assert streamed == batch
    assert "d01" not in streamed                       # decontam drop
    assert "<EMAIL>" in streamed["d02"]                # redacted
    assert "owner@example.org" not in streamed["d02"]
