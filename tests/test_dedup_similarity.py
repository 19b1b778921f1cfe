"""Dedup family, ANN similarity, multimodal plumbing, skew helpers, paths."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_rag_spark.operators import dedup as DD
from knowledge_graph_rag_spark.operators import multimodal as MM
from knowledge_graph_rag_spark.operators import similarity as SIM
from knowledge_graph_rag_spark.operators import skew as SK


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the green bank"),  # near dup
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "spark dataframes and shuffles are described in different content here"),
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, "id int, text string")


def test_exact_dedup(corpus):
    groups = DD.exact_duplicates(corpus).collect()
    assert len(groups) == 1 and groups[0].ids == [1, 2]
    kept = {r.id for r in DD.dedup_exact(corpus).collect()}
    assert kept == {1, 3, 4, 5, 6}


def test_ngram_jaccard(corpus):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in DD.ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh(corpus):
    pairs = {(r.id_a, r.id_b) for r in DD.minhash_lsh_pairs(corpus, jaccard_max_dist=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs


def test_simhash(corpus):
    pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_pairs(corpus, max_hamming=6).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # one word swapped → small hamming
    assert (1, 4) not in pairs


def test_embedding_cosine_pairs(corpus):
    pairs = {(r.id_a, r.id_b) for r in DD.embedding_cosine_pairs(corpus, threshold=0.9).collect()}
    assert (1, 2) in pairs


def test_minhash_no_driver_vocab():
    """minhash_lsh_pairs must not build a driver-side vocabulary
    (CountVectorizer.fit = unbounded driver memory at corpus scale)."""
    import inspect

    src = inspect.getsource(DD.minhash_lsh_pairs)
    assert "CountVectorizer(" not in src  # docstring mentions it; no call
    assert "HashingTF(" in src
    assert DD.MINHASH_NUM_FEATURES == 1 << 20


def test_simhash_band_cap(spark):
    """1k empty docs all simhash to 0 — without the band cap they form one
    quadratic bucket (~2M candidate rows in one task). With it, the
    degenerate bucket is dropped while normal near-dup pairs survive."""
    rows = [(i, "") for i in range(1000)] + [
        (2001, "the quick brown fox jumps over the lazy dog near the river"),
        (2002, "the quick brown fox jumps over the lazy dog near the rivers"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    pairs = {(r.id_a, r.id_b) for r in DD.simhash_pairs(df, max_hamming=6).collect()}
    assert (2001, 2002) in pairs
    assert not any(a < 1000 and b < 1000 for a, b in pairs)


def test_ngram_jaccard_df_cap(spark):
    """A shingle shared by every doc (df > max_df) is excluded from both the
    sizes and the intersection — filtered-set Jaccard on both sides."""
    common = "alpha beta gamma"  # one shared shingle in every doc
    rows = [(i, f"{common} unique{i} tail{i} end{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "id int, text string")
    # with the shared shingle capped out, no pair shares anything
    assert DD.ngram_jaccard_pairs(df, threshold=0.01, max_df=5).count() == 0
    # without the cap the shared shingle makes every pair similar
    assert DD.ngram_jaccard_pairs(df, threshold=0.01, max_df=100).count() == 45


def test_ngram_jaccard_hot_shingle_scale_shape(spark):
    """The df>max_df filter must carry NO forced broadcast (the hot-shingle
    set's cardinality is unbounded at design scale — r03 verdict #1): it is
    a windowed count over partitionBy(shingle), whose per-key state is a
    spill-backed buffer, and whose Exchange is SHARED with the downstream
    groupBy(shingle) — assert the plan has a Window, no BroadcastExchange
    feeding an anti-join, and that the df-cap semantics hold."""
    common = "alpha beta gamma"
    rows = [
        (i, f"{common} unique{i} tail{i} end{i} shared{i % 3} more{i % 3} x{i % 3}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = DD.ngram_jaccard_pairs(df, threshold=0.01, max_df=5)
    pairs = sorted(map(tuple, out.collect()))
    assert len(pairs) > 0
    import inspect

    src = inspect.getsource(DD.ngram_jaccard_pairs)
    assert "F.broadcast(" not in src and "left_anti" not in src
    assert "Window.partitionBy" in src
    # the Window itself sits above the localCheckpoint cut, so assert it on
    # the un-truncated plan of the windowed stage
    sh = DD.word_shingles(df, "id", "text", 3)
    from pyspark.sql import Window as W

    probe = sh.withColumn("df", F.count("*").over(W.partitionBy("shingle")))
    assert "Window" in probe._jdf.queryExecution().executedPlan().toString()
    # the common-to-all shingle (df=12 > 5) must be capped out of sizes too:
    # docs sharing ONLY the common shingle have no surviving pair
    only_common = spark.createDataFrame(
        [(1, "alpha beta gamma one"), (2, "alpha beta gamma two")],
        "id int, text string",
    )
    assert DD.ngram_jaccard_pairs(only_common, threshold=0.01, max_df=1).count() == 0


def test_word_shingles_tokenization_linear(spark):
    """Canary for the r05 O(len²) regression: the gram lambda reads the
    token array through a MATERIALIZED projected column — if the split
    expression is ever inlined into the per-element F.get again, each
    element access re-runs the regex tokenization (a 3,000-word doc then
    costs ~9M splits and minutes; linear is instant). Also pins exactness:
    shingle count for an n-word all-distinct doc is n-2."""
    import time

    words = " ".join(f"w{i}" for i in range(3000))
    df = spark.createDataFrame([(1, words)], "id int, text string")
    t0 = time.time()
    n = DD.word_shingles(df, "id", "text", 3).count()
    assert n == 2998
    assert time.time() - t0 < 20, "tokenization is re-evaluated per element"


def test_simhash_vectorized_bit_identical():
    """_fnv1a_batch and the SWAR vote path must be bit-identical to the
    scalar per-byte FNV-1a reference (the simhash constants are pinned by
    the planted-pair tests — this guards the vectorization itself)."""
    import numpy as np
    import pandas as pd

    def fnv1a(tok):
        h = 0xCBF29CE484222325
        for ch in tok.encode("utf-8"):
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    toks = ["hello", "a", "", "café", "x" * 40, "the", "😀emoji", "token123"]
    assert list(DD._fnv1a_batch(toks)) == [fnv1a(t) for t in toks]

    shifts = np.arange(64, dtype=np.uint64)

    def sim_scalar(text):
        toks = text.lower().split() if text else []
        if not toks:
            return 0
        hs = np.fromiter((fnv1a(t) for t in toks), dtype=np.uint64, count=len(toks))
        bits = (hs[:, None] >> shifts) & np.uint64(1)
        votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
        out = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        return out - (1 << 64) if out >= (1 << 63) else out

    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(300)]
    texts = [" ".join(rng.choice(words, n)) for n in (1, 3, 120, 300, 700)]
    texts += [None, "", "   ", "single"]  # incl. a >255-token doc (lane split)
    got = list(DD.simhash64.func(pd.Series(texts)))
    assert got == [sim_scalar(t) for t in texts]


def test_brute_force_topk(spark, corpus):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    topk = SIM.brute_force_topk(emb, queries, k=5)
    rows = topk.collect()
    assert len(rows) == 15
    for r in rows:
        assert -1.0001 <= r.cosine <= 1.0001 and r.neighbor_id != r.query_id


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=3).collect()
    # this corpus is near-random (true top-3 cosines ≈ 0.39), so the bucket
    # width must be coarse: 3 bits / 16 tables. With clustered real
    # embeddings (cos ≥ 0.8 neighbors) 8 bits / 4 tables suffices.
    approx = SIM.lsh_topk(emb, queries, dim=64, k=3, bits=3, num_tables=16).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall  # candidate generation must find true neighbors


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    exact = SIM.brute_force_topk(emb, queries, k=3).collect()
    # near-random corpus → probe generously (8 of 16 cells); clustered real
    # embeddings need far fewer probes for the same recall
    approx = SIM.ivf_topk(emb, queries, k=3, n_clusters=16, n_probe=8).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, recall
    # determinism: same seed → identical result rows
    again = {(r.query_id, r.neighbor_id, r.cosine) for r in SIM.ivf_topk(
        emb, queries, k=3, n_clusters=16, n_probe=8).collect()}
    assert {(r.query_id, r.neighbor_id, r.cosine) for r in approx} == again
    # full probe degenerates to exact
    full = SIM.ivf_topk(emb, queries, k=3, n_clusters=16, n_probe=16).collect()
    assert {(r.query_id, r.neighbor_id) for r in full} == exact_set


def test_ivf_auto_sizing_and_distributed_sample(spark):
    """n_clusters=None applies the k≈√n rule; sample_fraction draws the fit
    sample per-partition (bounded driver memory) — both produce the contract
    schema and deterministic results."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    assert SIM._resolve_n_clusters(None, emb) == max(4, int(n ** 0.5))
    queries = emb.filter(F.col("vec_id") < 3)
    out = SIM.ivf_topk(
        emb, queries, k=3, n_clusters=None, n_probe=SIM._resolve_n_clusters(None, emb),
        sample_fraction=0.5,
    )
    rows = out.collect()
    assert rows and out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    # full-probe with auto k still degenerates to exact
    exact = {(r.query_id, r.neighbor_id)
             for r in SIM.brute_force_topk(emb, queries, k=3).collect()}
    assert {(r.query_id, r.neighbor_id) for r in rows} == exact


def test_media_pipeline(spark):
    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators.extract import explode_spans

    spans = explode_spans(synth.documents_df(spark, 60))
    catalog = MM.media_catalog(spans)
    n_media = catalog.count()
    assert n_media > 0
    decoded = MM.decode_media(catalog).cache()
    assert decoded.count() == n_media
    assert decoded.filter(F.col("decode_status") != "ok_stub").count() == 0
    imgs = decoded.filter(F.col("kind") == "image")
    assert imgs.filter(F.col("width").isNull() | F.col("height").isNull()).count() == 0
    feats = MM.media_features(decoded).collect()
    assert all(len(r.embedding) == MM.FEATURE_DIM for r in feats)
    # determinism: same ref → same bytes
    one = decoded.orderBy("media_ref").first()
    again = MM.decode_media(catalog).filter(F.col("media_ref") == one.media_ref).first()
    assert bytes(one.content) == bytes(again.content)

    # frame sampling: synth has no video spans, so plant decoded-shaped
    # video rows explicitly (the operator only reads these 5 columns)
    videos = spark.createDataFrame(
        [
            ("dv1", 0, "video", "m://dv1/0", bytes(range(200)), "ok_stub"),
            ("dv2", 1, "video", "m://dv2/1", b"\x07" * 64, "ok_stub"),
        ],
        "doc_id string, span_order int, kind string, media_ref string, "
        "content binary, decode_status string",
    )
    frames = MM.sample_frames(videos, n_frames=4).collect()
    assert len(frames) == 4 * 2
    by_ref = {}
    for fr in frames:
        by_ref.setdefault(fr.media_ref, []).append(fr)
    for ref, fs in by_ref.items():
        fs.sort(key=lambda r: r.frame_index)
        ts = [r.timestamp_ms for r in fs]
        assert ts == sorted(ts) and ts[0] == 0
        assert all(r.decode_status == "ok_stub" and r.frame_bytes for r in fs)
    # the planted 200-byte clip splits into 4 distinct 50-byte slices
    dv1 = sorted(by_ref["m://dv1/0"], key=lambda r: r.frame_index)
    assert [bytes(r.frame_bytes) for r in dv1] == [
        bytes(range(200))[i * 50:(i + 1) * 50] for i in range(4)
    ]

    # resize: fixed training shape for every image
    resized = MM.resize_images(decoded, width=32, height=32).collect()
    n_images = decoded.filter(F.col("kind") == "image").count()
    assert len(resized) == n_images
    assert all(
        r.width == 32 and r.height == 32 and len(r.resized_bytes) == 32 * 32
        for r in resized
    )


def test_media_real_stdlib_decode(spark):
    """Injectable fetcher serving REAL containers: PNG/BMP/PPM/GIF/TIFF images and PCM
    WAV audio decode with status ok and true metadata (no codec libs —
    functions/mediacodecs); opaque blobs keep the honest ok_stub path; the
    image resample is a real nearest-neighbor resize."""
    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators.extract import explode_spans

    spans = explode_spans(synth.documents_df(spark, 60))
    catalog = MM.media_catalog(spans)

    def fetch(ref: str, kind: str) -> bytes:
        if kind == "image":
            fmt = ("png", "bmp", "ppm", "gif", "tiff")[sum(ref.encode()) % 5]
            build = {"png": synth.minimal_png_bytes,
                     "bmp": synth.minimal_bmp_bytes,
                     "ppm": synth.minimal_ppm_bytes,
                     "gif": synth.minimal_gif_bytes,
                     "tiff": synth.minimal_tiff_bytes}[fmt]
            return build(17, 9, (40, 80, 120))
        if kind == "audio":
            return synth.minimal_wav_bytes(1200)
        return b"\x01\x02opaque"  # table-class blobs stay stubbed

    decoded = MM.decode_media(catalog, fetcher=fetch).cache()
    imgs = decoded.filter(F.col("kind") == "image").collect()
    assert imgs and all(
        r.decode_status == "ok" and r.width == 17 and r.height == 9 for r in imgs
    )
    auds = decoded.filter(F.col("kind") == "audio").collect()
    assert auds and all(
        r.decode_status == "ok" and r.duration_ms == 1200 for r in auds
    )
    others = decoded.filter(~F.col("kind").isin("image", "audio")).collect()
    assert all(r.decode_status == "ok_stub" for r in others)

    # real nearest-neighbor resize: solid 17x9 RGB → solid 12x8 RGB
    resized = MM.resize_images(decoded, width=12, height=8).collect()
    assert resized and all(r.decode_status == "ok" for r in resized)
    import numpy as np

    for r in resized:
        arr = np.frombuffer(bytes(r.resized_bytes), dtype=np.uint8)
        assert arr.size == 12 * 8 * 3
        assert (arr.reshape(8, 12, 3) == [40, 80, 120]).all()
    decoded.unpersist()


def test_media_jpeg_decode(spark):
    """Baseline JPEG (stdlib+numpy Huffman/IDCT) flows through decode_media
    with status ok and TRUE dims; progressive JPEG honestly falls back to
    ok_stub; resize works on the decoded pixels."""
    import numpy as np

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.functions import mediacodecs as MC
    from knowledge_graph_rag_spark.operators.extract import explode_spans

    spans = explode_spans(synth.documents_df(spark, 40))
    catalog = MM.media_catalog(spans).filter(F.col("kind") == "image")

    baseline = synth.minimal_jpeg_bytes(21, 13, (40, 80, 120))
    progressive = bytearray(baseline)
    i = progressive.find(b"\xFF\xC0")
    progressive[i + 1] = 0xC2

    def fetch(ref: str, kind: str) -> bytes:
        return bytes(progressive) if sum(ref.encode()) % 3 == 0 else baseline

    decoded = MM.decode_media(catalog, fetcher=fetch).cache()
    ok = decoded.filter(F.col("decode_status") == "ok").collect()
    stub = decoded.filter(F.col("decode_status") == "ok_stub").collect()
    assert ok and all(r.width == 21 and r.height == 13 for r in ok)
    assert stub  # progressive class keeps the honest stub path
    resized = MM.resize_images(
        decoded.filter(F.col("decode_status") == "ok"), width=7, height=5
    ).collect()
    assert resized and all(r.decode_status == "ok" for r in resized)
    for r in resized:
        arr = np.frombuffer(bytes(r.resized_bytes), dtype=np.uint8).reshape(5, 7, 3)
        assert np.abs(arr.astype(int) - [40, 80, 120]).max() <= 4
    decoded.unpersist()


def test_salted_collect_set_equivalence(spark):
    df = spark.createDataFrame(
        [(i % 3, i % 7) for i in range(500)], "k int, v int"
    )
    plain = {
        r.k: sorted(r.s)
        for r in df.groupBy("k").agg(F.collect_set("v").alias("s")).collect()
    }
    salted = {
        r.k: sorted(r.s)
        for r in SK.salted_collect_set(
            df, ["k"], "v", "s", buckets=8,
            extra_aggs={"cnt": F.count("*")},
        ).collect()
    }
    assert plain == salted


def test_salted_count_distinct_equivalence(spark):
    df = spark.createDataFrame([(i % 3, i % 11) for i in range(400)], "k int, v int")
    plain = {
        r.k: r.d
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("d")).collect()
    }
    salted = {
        r.k: r.d for r in SK.salted_count_distinct(df, ["k"], "v", "d").collect()
    }
    assert plain == salted


def test_two_hop_paths(spark):
    from knowledge_graph_rag_spark.operators.detectors import two_hop_paths

    edges = spark.createDataFrame(
        [("a", "b", "R"), ("b", "c", "R"), ("a", "c", "S"), ("x", "y", "R")],
        "src string, dst string, rel_type string",
    )
    paths = two_hop_paths(edges, "a", "c").collect()
    hops = sorted(p.hops for p in paths)
    assert hops[0] == 1  # direct a→c
    assert any(p.hops == 2 and p.path == ["a", "b", "c"] for p in paths)


def test_k_hop_reach(spark):
    from knowledge_graph_rag_spark.operators.detectors import k_hop_reach

    edges = spark.createDataFrame(
        [("a", "b", "LEADS_TO"), ("b", "c", "LEADS_TO"), ("c", "d", "LEADS_TO")],
        "src string, dst string, rel_type string",
    )
    targets = spark.createDataFrame([("d",)], "node_id string")
    reach = {r.origin: r.hops for r in k_hop_reach(edges, "LEADS_TO", targets).collect()}
    assert reach == {"c": 1, "b": 2, "a": 3}


def test_open_ner_mentions(spark):
    """Opt-in open mention detection: finds out-of-gazetteer entities, never
    re-emits closed-vocabulary ones, and feeds the fuzzy canonicalizer."""
    from knowledge_graph_rag_spark.operators.open_ner import open_mentions
    from knowledge_graph_rag_spark.schemas import DOCUMENTS_INTERLEAVED_SCHEMA
    from knowledge_graph_rag_spark.operators.extract import explode_spans

    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [{
            "kind": "text",
            "text": "Alice Johnson joined Quantum Dynamics Lab. The Zephyr "
                    "Project uses Model X9. Acme Corp acquired Globex Corp.",
            "media_ref": "", "offset": 0}]}],
        schema=DOCUMENTS_INTERLEAVED_SCHEMA,
    )
    rows = open_mentions(explode_spans(docs)).collect()
    labels = {r.label for r in rows}
    assert {"Quantum Dynamics Lab", "Zephyr Project", "Model X9"} <= labels
    assert "Acme Corp" not in labels and "Alice Johnson" not in labels
    assert all(r.type == "Concept" and r.entity_class == "semantic" for r in rows)


def test_hash_sample_partition_independent(spark):
    """Deterministic sampling: identical membership regardless of
    partitioning; stratified fractions hold per stratum."""
    from knowledge_graph_rag_spark.operators import sampling as SP

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(4000)], "id int, lang string"
    )
    a = {r.id for r in SP.hash_sample(df, "id", 0.2).collect()}
    b = {r.id for r in SP.hash_sample(df.repartition(17), "id", 0.2).collect()}
    assert a == b and 0.15 < len(a) / 4000 < 0.25
    # monotone: a smaller fraction is a subset of a larger one
    small = {r.id for r in SP.hash_sample(df, "id", 0.05).collect()}
    assert small <= a
    strat = SP.stratified_hash_sample(
        df, "id", "lang", {"en": 0.1, "de": 1.0}
    ).groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in strat}
    assert by["de"] == len([i for i in range(4000) if i % 3 == 0])
    assert 0.05 < by["en"] / (4000 * 2 / 3) < 0.15


def test_token_budget_sample(spark):
    """Token-budget sampling: per-stratum kept docs follow hash-priority
    order with the first budget-crossing doc kept (budget = lower bound on
    kept tokens); membership is partition-independent; absent strata kept
    whole; appending new docs only perturbs the tail (never evicts a doc
    whose prior tokens stayed below budget)."""
    import hashlib

    from knowledge_graph_rag_spark.operators import sampling as SP

    rows = [(f"d{i:03d}", "en" if i % 3 else "de", 10 + (i * 7) % 50)
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, toks long")
    kept = SP.token_budget_sample(df, "doc_id", "toks", {"en": 700}, "lang")
    got = {(r.doc_id, r.lang) for r in kept.collect()}

    # python reference: exclusive running sum in (md5-prefix, key) order
    def pr(k):
        return int(hashlib.md5(k.encode()).hexdigest()[:4], 16)

    en = sorted((r for r in rows if r[1] == "en"),
                key=lambda r: (pr(r[0]), r[0]))
    run, expect_en = 0, set()
    for d, l, t in en:
        if run < 700:
            expect_en.add((d, l))
        run += t
    assert {g for g in got if g[1] == "en"} == expect_en
    kept_en_tokens = sum(t for d, l, t in rows if (d, l) in got and l == "en")
    assert kept_en_tokens >= 700  # first crossing doc is kept
    # de has no budget: kept whole
    assert {g for g in got if g[1] == "de"} == {
        (d, l) for d, l, _ in rows if l == "de"
    }
    # partition independence
    got2 = {(r.doc_id, r.lang) for r in SP.token_budget_sample(
        df.repartition(13), "doc_id", "toks", {"en": 700}, "lang"
    ).collect()}
    assert got2 == got
    # append-stability: new docs can only displace docs at/after the budget
    # line — every kept doc whose prior stayed below budget remains kept
    bigger = df.unionByName(spark.createDataFrame(
        [(f"x{i:03d}", "en", 10) for i in range(50)],
        "doc_id string, lang string, toks long",
    ))
    got3 = {(r.doc_id, r.lang) for r in SP.token_budget_sample(
        bigger, "doc_id", "toks", {"en": 700}, "lang").collect()}
    en3 = sorted(
        [(d, 10) for d in (f"x{i:03d}" for i in range(50))] + [
            (d, t) for d, l, t in rows if l == "en"
        ],
        key=lambda r: (pr(r[0]), r[0]),
    )
    run, expect3 = 0, set()
    for d, t in en3:
        if run < 700:
            expect3.add((d, "en"))
        run += t
    assert {g for g in got3 if g[1] == "en"} == expect3


def test_tfidf_top_terms(spark):
    """TF-IDF keywords: a term present in EVERY doc scores ln(1)=0 and
    never ranks above a doc-specific term; a doc's planted rare term wins
    its top slot; scores match a python reference exactly."""
    import math

    from knowledge_graph_rag_spark.operators.keywords import tfidf_top_terms

    rows = [
        ("d1", "common filler words plus zebra zebra unique topic"),
        ("d2", "common filler words plus quasar story detail"),
        ("d3", "common filler words plus ordinary narrative text"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = tfidf_top_terms(df, "doc_id", "text", top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    top1 = {d: sorted(rs, key=lambda r: r.rank)[0] for d, rs in by_doc.items()}
    assert top1["d1"].term == "zebra" and top1["d1"].tf == 2
    # d2's unique terms all tie (tf=1, df=1): alphabetical tie-break
    assert {r.term for r in by_doc["d2"]} == {"detail", "quasar"}
    assert top1["d2"].term == "detail"
    # ubiquitous terms (df = N) score 0 and never beat doc-specific terms
    assert all(r.term not in {"common", "filler", "words", "plus"}
               for rs in by_doc.values() for r in rs if r.score > 0)
    assert top1["d1"].score == round(2 * math.log(3 / 1), 4)


def test_duplicated_passage_stats(spark):
    """Boilerplate profiling: a doc assembled from a passage shared with
    another doc gets dup_ratio ≈ the shared share; a fully unique doc gets
    0; counts agree with the pure-python winnow() kernel."""
    from knowledge_graph_rag_spark.operators.fingerprint import (
        duplicated_passage_stats,
        winnow,
    )

    shared = ("the incident response runbook requires rotating every "
              "credential that the compromised host could read before "
              "the forensic image is taken")
    uniq_a = "entirely different prose about parquet row group statistics"
    uniq_b = "yet another unrelated passage concerning shuffle spill files"
    rows = [
        ("d1", shared + " " + uniq_a),
        ("d2", shared + " " + uniq_b),
        ("d3", "completely standalone text with no overlap whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.id: r for r in duplicated_passage_stats(
        df, "doc_id", "text", k=30, window=8).collect()}
    for d, t in rows:
        assert got[d].n_fps == len(winnow(t, 30, 8)), d
    assert got["d3"].n_shared_fps == 0 and got["d3"].dup_ratio == 0.0
    # the two passage-sharing docs: shared fingerprints are a strict,
    # non-empty subset
    for d in ("d1", "d2"):
        assert 0 < got[d].n_shared_fps < got[d].n_fps
        assert 0.0 < got[d].dup_ratio < 1.0
    shared_fps = set(winnow(rows[0][1], 30, 8)) & set(winnow(rows[1][1], 30, 8))
    assert got["d1"].n_shared_fps == len(shared_fps)


def test_winnowing_fingerprints(spark):
    """Rolling-hash winnowing: a doc and its shifted copy share most
    fingerprints (md5 would share none); unrelated docs share ~none; the
    pure-python kernel and the Spark op agree."""
    from knowledge_graph_rag_spark.operators import fingerprint as FP

    passage = ("the migration copied every partition manifest into the new "
               "catalog before committing the snapshot marker atomically")
    rows = [
        (1, passage),
        (2, "PREFIX INSERTED AT THE FRONT. " + passage),  # shifted copy
        (3, "completely unrelated content about cooking pasta with garlic "
            "and olive oil on a tuesday evening dinner"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {}
    for r in FP.winnow_fingerprints(df).collect():
        got.setdefault(r.id, set()).add(r.fingerprint)
    # Spark op equals the local kernel
    for i, t in rows:
        assert got.get(i, set()) == set(FP.winnow(t)), i
    shared_12 = len(got[1] & got[2])
    assert shared_12 / len(got[1]) > 0.7  # shift-robust
    assert len(got[1] & got[3]) <= 1
    pairs = {(r.id_a, r.id_b): r.shared_fps
             for r in FP.shared_passage_pairs(df, min_shared=5).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_ivf_index_partition_pruning(spark, tmp_path):
    """Persisted IVF index: probes scan ONLY the probed cell partitions
    (PartitionFilters on cell), and results match the in-memory ivf_topk."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    SIM.build_ivf_index(emb, path, n_clusters=16)
    out = SIM.ivf_query_index(spark, path, queries, k=3, n_probe=8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "cell" in pf_line and "IN" in pf_line.upper()
    got = {(r.query_id, r.neighbor_id, r.cosine) for r in out.collect()}
    mem = {(r.query_id, r.neighbor_id, r.cosine)
           for r in SIM.ivf_topk(emb, queries, k=3, n_clusters=16, n_probe=8).collect()}
    assert got == mem


def test_ivf_index_incremental_add(spark, tmp_path):
    """ivf_index_add appends new vectors under the frozen centroids:
    existing files untouched, row count additive, queries over the grown
    index find the added vectors with pruned scans."""
    import os

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = emb.filter(F.col("vec_id") < 40)
    second = emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 80))
    path = str(tmp_path / "ivf")
    SIM.build_ivf_index(first, path, n_clusters=8, sample_rows=200)

    def data_files():
        out = {}
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = data_files()
    SIM.ivf_index_add(path, second)
    after = data_files()
    assert set(before) <= set(after)               # strictly additive
    assert all(after[p] == m for p, m in before.items())  # untouched
    assert spark.read.parquet(path).count() == 80

    # a query identical to an added vector must find it at rank 1 with a
    # full probe (n_probe = n_clusters → exact over the grown index)
    q = emb.filter(F.col("vec_id") == 50)
    res = SIM.ivf_query_index(spark, path, q, k=3, n_probe=8).collect()
    assert res and all(r.query_id == 50 and r.neighbor_id != 50 for r in res)
    exact = SIM.brute_force_topk(
        first.unionByName(second), q, k=3
    ).collect()
    assert {(r.neighbor_id, r.cosine) for r in res} == {
        (r.neighbor_id, r.cosine) for r in exact
    }


def test_stream_curation_compaction(spark, tmp_path):
    """compact_stream_curation tombstones cross-batch near-dups without
    rewriting the per-batch partitions; read_curated applies them; the
    surviving set matches the batch pipeline's near-dedup stage."""
    from knowledge_graph_rag_spark.plans import datapipe
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore
    from knowledge_graph_rag_spark.streaming.curation import (
        compact_stream_curation,
        read_curated,
        stream_documents_to_curation,
    )

    base = ("the patient crane waits beside the shallow river bend while "
            "morning light settles on the quiet water")
    rows = [
        ("d00", base),
        ("d01", "a calm essay on parquet row groups and predicate pushdown "
                "written in steady unhurried prose"),
        ("d02", base.replace("crane", "heron")),   # near-dup of d00, later batch
        ("d03", "broadcast joins and adaptive query execution explained with "
                "care and worked examples throughout"),
    ]
    drop = tmp_path / "drop"
    drop.mkdir()
    for i, chunk in enumerate([rows[:2], rows[2:]]):
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
        stream, store, "c1", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    # cross-batch near-dup survives streaming (exact dedup can't see it)
    assert {r.doc_id for r in read_curated(store, "c1").collect()} == {
        "d00", "d01", "d02", "d03"
    }

    n_drops = compact_stream_curation(store, "c1", near_dup_max_dist=0.5)
    assert n_drops == 1 == store.read("dp_c1_neardup_drops").count()
    curated = {r.doc_id for r in read_curated(store, "c1").collect()}
    assert curated == {"d00", "d01", "d03"}  # min-id representative kept

    docs = spark.createDataFrame(rows, "doc_id string, text string")
    bstore = GraphStore(spark, str(tmp_path / "bwh"))
    datapipe.curate(spark, docs, bstore, dataset_id="b", near_dup_max_dist=0.5)
    batch_after_neardup = {
        r.doc_id for r in bstore.read("dp_b_near_dedup").collect()
    }
    assert curated == batch_after_neardup


def test_verify_pairs_exact_jaccard(spark, corpus):
    """Candidate-verify composition: LSH candidates → exact unfiltered
    Jaccard per pair, agreeing with a python set computation."""
    import re

    cands = DD.minhash_lsh_pairs(corpus, jaccard_max_dist=0.6).select(
        "id_a", "id_b"
    )
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in DD.verify_pairs_exact_jaccard(
            cands, corpus, threshold=0.3
        ).collect()
    }
    texts = {r.id: r.text for r in corpus.collect()}

    def sh(t):
        toks = [x for x in re.split(r"\W+", t.lower()) if x]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    assert verified  # the exact-dup pair at least
    for (a, b), j in verified.items():
        A, B = sh(texts[a]), sh(texts[b])
        assert abs(j - round(len(A & B) / len(A | B), 4)) < 1e-9
    assert verified[(1, 2)] == 1.0


def test_ivfpq_query_batch_dimension_bounded(spark, tmp_path):
    """The documented probe-batch contract: a 10^4-row query batch runs
    through ONE broadcast of the dense query matrix (the r04 form captured
    per-query LUT/base dicts in every task closure — O(n_q·m·pq_k) python
    dicts serialized per task). Every query must come back with k ranked
    neighbors, and the big-batch scores must agree exactly with a
    small-batch call for the same vectors."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(200, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfpq_big")
    SIM.build_ivfpq_index(emb, path, n_clusters=8, m=4, pq_k=16,
                          sample_rows=200)

    n_q = 10_000
    qvecs = base[np.arange(n_q) % 200] + 0.01 * rng.normal(size=(n_q, 16))
    bigq = spark.createDataFrame(
        [(100_000 + i, [float(x) for x in qvecs[i]]) for i in range(n_q)],
        "vec_id long, embedding array<double>",
    )
    res = SIM.ivfpq_query_index(spark, path, bigq, k=3, n_probe=4)
    per_q = {r.query_id: r.cnt for r in res.groupBy("query_id").agg(
        F.count("*").alias("cnt")).collect()}
    assert len(per_q) == n_q and all(v == 3 for v in per_q.values())

    small = SIM.ivfpq_query_index(spark, path, bigq.filter(
        F.col("vec_id") < 100_010), k=3, n_probe=4)
    big_rows = {(r.query_id, r.rank): (r.neighbor_id, r.approx_cosine)
                for r in res.filter(F.col("query_id") < 100_010).collect()}
    small_rows = {(r.query_id, r.rank): (r.neighbor_id, r.approx_cosine)
                  for r in small.collect()}
    assert big_rows == small_rows


def test_ivfpq_recall_and_compression(spark, tmp_path):
    """IVF-PQ: codes-only index (no vectors stored), partition-pruned ADC
    scan. Recall is measured on PLANTED clusters (uniform-random vectors
    have cosine gaps below any quantizer's error — meaningless for ANN):
    recall@10 ≥ 0.6 at half probe, and exact re-rank of the approximate
    top-30 beats the raw approximate recall (the standard compose)."""
    import numpy as np

    rng = np.random.default_rng(3)
    bases = rng.normal(size=(25, 64))
    rows = []
    vid = 0
    for b in bases:
        for _ in range(20):
            v = b + 0.25 * rng.normal(size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    path = str(tmp_path / "ivfpq")
    SIM.build_ivfpq_index(emb, path, n_clusters=16, m=16, pq_k=64,
                          sample_rows=500)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "codes", "cell"}  # no vectors

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    approx = SIM.ivfpq_query_index(spark, path, queries, k=10, n_probe=8)
    exact = SIM.brute_force_topk(emb, queries, k=10)
    a, e = {}, {}
    for r in approx.collect():
        a.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(a.get(q, set()) & e[q]) / len(e[q]) for q in e]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.6, recalls

    # cluster sanity: approximate neighbors are dominated by cluster-mates
    for q, ids in a.items():
        mates = sum(1 for i in ids if i // 20 == q // 20)
        assert mates >= len(ids) * 0.7, (q, ids)

    # composition: exact re-rank of the approximate top-30 ids ≥ raw approx
    wide = SIM.ivfpq_query_index(spark, path, queries, k=30, n_probe=8)
    cand_ids = wide.select(F.col("neighbor_id").alias("vec_id")).distinct()
    rerank = SIM.brute_force_topk(
        emb.join(cand_ids, "vec_id", "left_semi"), queries, k=10
    )
    rr = {}
    for r in rerank.collect():
        rr.setdefault(r.query_id, set()).add(r.neighbor_id)
    rerank_recall = sum(
        len(rr.get(q, set()) & e[q]) / len(e[q]) for q in e
    ) / len(e)
    assert rerank_recall >= mean_recall


def test_train_val_test_split_semantics(spark):
    """Split is disjoint+exhaustive, ~matches weights, is stable under
    repartitioning AND under corpus growth (append-stability), and re-rolls
    with salt."""
    from knowledge_graph_rag_spark.operators import sampling as SP

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = SP.train_val_test_split(df, "doc_id")
    rows = {r.doc_id: r.split for r in out.collect()}
    assert set(rows.values()) == {"train", "val", "test"}
    n = len(rows)
    frac = {s: sum(1 for v in rows.values() if v == s) / n for s in ("train", "val", "test")}
    assert abs(frac["train"] - 0.9) < 0.03
    assert abs(frac["val"] - 0.05) < 0.02 and abs(frac["test"] - 0.05) < 0.02

    # partition-layout independence
    rows2 = {
        r.doc_id: r.split
        for r in SP.train_val_test_split(df.repartition(13), "doc_id").collect()
    }
    assert rows2 == rows

    # append-stability: growing the corpus never reassigns existing docs
    grown = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    rows3 = {r.doc_id: r.split for r in SP.train_val_test_split(grown, "doc_id").collect()}
    assert all(rows3[k] == v for k, v in rows.items())

    # salt re-rolls assignment
    salted = {
        r.doc_id: r.split
        for r in SP.train_val_test_split(df, "doc_id", salt="v2").collect()
    }
    assert salted != rows

    # custom weights follow dict order; bad weights rejected
    two = SP.train_val_test_split(
        df, "doc_id", weights={"fit": 0.5, "holdout": 0.5}
    )
    assert set(r.split for r in two.collect()) == {"fit", "holdout"}
    with pytest.raises(ValueError):
        SP.train_val_test_split(df, "doc_id", weights={"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError):
        SP.train_val_test_split(df, "doc_id", weights={"a": 1.0})


def test_train_val_test_split_null_keys_go_to_train(spark):
    """NULL keys must land in the FIRST split (train), never the eval set."""
    from knowledge_graph_rag_spark.operators import sampling as SP

    df = spark.createDataFrame(
        [(1,), (2,), (None,)], "doc_id int"
    )
    out = {r.doc_id: r.split for r in SP.train_val_test_split(df, "doc_id").collect()}
    assert out[None] == "train"


def test_minhash_index_build_probe_add(spark, tmp_path):
    """Persisted LSH index: a probe finds the planted near-dup of a corpus
    doc without recomputing corpus signatures; incremental add == rebuild;
    candidates compose with exact verification; self-probe is idempotent."""
    base = ("the patient crane waits beside the shallow river bend while "
            "morning fog settles over the quiet water meadow slowly")
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "spark adaptive execution reorders joins and coalesces "
                "shuffle partitions when statistics allow it to do so"),
            (3, "a third unrelated document about parquet encodings and "
                "dictionary compression for long string columns"),
        ],
        "id int, text string",
    )
    path = str(tmp_path / "lshidx")
    DD.build_minhash_index(corpus, path)

    probes = spark.createDataFrame(
        [
            (10, base.replace("crane", "heron")),  # near-dup of 1
            (11, "entirely fresh content about streaming watermarks and "
                 "stateful aggregation timeouts in micro batches"),
        ],
        "id int, text string",
    )
    cands = DD.minhash_index_probe(probes, path)
    got = {(r.probe_id, r.index_id) for r in cands.collect()}
    assert (10, 1) in got
    assert not any(p == 11 for p, _ in got)

    # verification composes: the candidate pair survives exact Jaccard
    verified = DD.verify_pairs_exact_jaccard(
        cands.select(
            F.col("probe_id").alias("id_a"), F.col("index_id").alias("id_b")
        ),
        probes.unionByName(corpus),
        threshold=0.5,
    )
    assert {(r.id_a, r.id_b) for r in verified.collect()} == {(10, 1)}

    # incremental add: index+probes == rebuild-from-scratch on the union
    DD.minhash_index_add(probes, path)
    rebuilt = str(tmp_path / "lshidx2")
    DD.build_minhash_index(probes.unionByName(corpus), rebuilt)
    a = {tuple(r) for r in spark.read.parquet(path).collect()}
    b = {tuple(r) for r in spark.read.parquet(rebuilt).collect()}
    assert a == b

    # probing with a batch already IN the index: no self-matches
    again = {(r.probe_id, r.index_id)
             for r in DD.minhash_index_probe(probes, path).collect()}
    assert all(p != i for p, i in again)
    assert (10, 1) in again


def test_minhash_index_probe_distance_filter(spark, tmp_path):
    """jaccard_max_dist filters candidates by matching-band fraction (the
    MinHash estimate of Jaccard distance), so a low-overlap pair that collides
    in one band is a candidate under the raw probe but NOT a verdict under
    the filtered probe; bucket_cap drops degenerate hot buckets."""
    base = ("the patient crane waits beside the shallow river bend while "
            "morning fog settles over the quiet water meadow slowly")
    corpus = spark.createDataFrame(
        [(1, base)] + [
            (100 + i, f"unique filler document number {i} with its own "
                      f"entirely different vocabulary and phrasing {i}")
            for i in range(5)
        ],
        "id int, text string",
    )
    path = str(tmp_path / "idx")
    DD.build_minhash_index(corpus, path)
    probes = spark.createDataFrame(
        [
            (10, base.replace("crane", "heron")),        # true near-dup of 1
            # shares a couple of trigram spans with 1 but mostly different
            (11, "the patient crane waits beside a large metal bridge "
                 "while trucks and busses rumble north across it loudly"),
        ],
        "id int, text string",
    )
    raw = {(r.probe_id, r.index_id)
           for r in DD.minhash_index_probe(probes, path).collect()}
    filt = {(r.probe_id, r.index_id)
            for r in DD.minhash_index_probe(
                probes, path, jaccard_max_dist=0.2).collect()}
    assert (10, 1) in raw and (10, 1) in filt
    # the low-overlap doc may band-collide (raw candidates allow it) but
    # must NEVER pass the distance filter
    assert not any(p == 11 for p, _ in filt)
    # bucket_cap: capping at 0 kills every bucket -> no candidates at all
    assert DD.minhash_index_probe(probes, path, bucket_cap=0).count() == 0


def test_pack_sequences_semantics(spark):
    """Packing is doc-atomic, budget-bounded modulo the boundary doc,
    position-dense per sequence, deterministic under repartitioning, and
    matches a python greedy walk of the same hash order."""
    import hashlib

    from knowledge_graph_rag_spark.operators import sampling as SP

    rows = [(f"d{i:03d}", 100 + (i * 37) % 400) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, toks long")
    out = SP.pack_sequences(df, "doc_id", "toks", budget=1000)
    got = {r.doc_id: (r.seq_id, r.seq_pos) for r in out.collect()}

    # python oracle: same md5 order, floor(exclusive cumsum / budget)
    order = sorted(rows, key=lambda r: (hashlib.md5(r[0].encode()).hexdigest(), r[0]))
    cum, want = 0, {}
    pos: dict[int, int] = {}
    for k, t in order:
        sid = cum // 1000
        want[k] = (sid, pos.get(sid, 0))
        pos[sid] = pos.get(sid, 0) + 1
        cum += t
    assert got == want

    # concat-and-cut invariant: the doc stream tiles the budget windows, so
    # the CUMULATIVE tokens of sequences 0..sid reach (sid+1)*budget
    # whenever any later sequence exists (an individual sequence may
    # underfill when the previous window's last doc spills into it)
    by_seq: dict[int, int] = {}
    for k, t in rows:
        by_seq[got[k][0]] = by_seq.get(got[k][0], 0) + t
    last = max(by_seq)
    cum_tot = 0
    for sid in sorted(by_seq):
        cum_tot += by_seq[sid]
        if sid != last:
            assert cum_tot >= (sid + 1) * 1000, sid

    # partition-layout independence
    got2 = {
        r.doc_id: (r.seq_id, r.seq_pos)
        for r in SP.pack_sequences(
            df.repartition(13), "doc_id", "toks", budget=1000
        ).collect()
    }
    assert got2 == got


def test_token_budget_prefilter_exactness_and_shape(spark):
    """r06: the bucket-granular pre-cut before the exact window must be
    invisible semantically (bucket-boundary crossings, budget exceeding the
    stratum total, unbudgeted strata) and visible in the plan (a broadcast
    join attaches the per-stratum cut; the exact window no longer consumes
    the raw stratum)."""
    import hashlib

    from knowledge_graph_rag_spark.operators import sampling as SP

    rows = [(f"k{i:04d}", ["en", "de", "fr"][i % 3], 5 + (i * 13) % 90)
            for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id string, lang string, toks long")
    budgets = {"en": 1200, "de": 10**9, "fr": 1}  # mid / over-total / tiny
    kept = SP.token_budget_sample(df, "doc_id", "toks", budgets, "lang")
    got = {(r.doc_id, r.lang) for r in kept.collect()}

    def pr(k):
        return int(hashlib.md5(k.encode()).hexdigest()[:4], 16)

    for lang, budget in budgets.items():
        ordered = sorted((r for r in rows if r[1] == lang),
                         key=lambda r: (pr(r[0]), r[0]))
        run, expect = 0, set()
        for d, l, t in ordered:
            if run < budget:
                expect.add((d, l))
            run += t
        assert {g for g in got if g[1] == lang} == expect, lang
    # the pre-cut is a broadcast equi-join in the physical plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastExchange" in plan


def test_pack_sequences_partition_col(spark):
    """r06 (r05 verdict #2): partition_col distributes the packing windows
    — no single-partition global sort in the plan — and each shard's
    (seq_id, seq_pos) equals the global form applied to that shard alone."""
    from knowledge_graph_rag_spark.operators import sampling as SP

    rows = [(f"d{i:03d}", ["web", "code"][i % 2], 100 + (i * 37) % 400)
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id string, shard string, toks long")
    out = SP.pack_sequences(df, "doc_id", "toks", budget=1000,
                            partition_col="shard")
    got = {r.doc_id: (r.shard, r.seq_id, r.seq_pos) for r in out.collect()}
    for shard in ("web", "code"):
        solo = SP.pack_sequences(
            df.filter(F.col("shard") == shard), "doc_id", "toks", budget=1000
        )
        want = {r.doc_id: (shard, r.seq_id, r.seq_pos) for r in solo.collect()}
        assert {k: v for k, v in got.items() if v[0] == shard} == want, shard
    # plan: partitioned windows — no SinglePartition exchange anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:2000]
    # and the global default still plans the (documented) global sort
    gplan = SP.pack_sequences(df, "doc_id", "toks", budget=1000)
    assert "SinglePartition" in gplan._jdf.queryExecution().executedPlan().toString()
