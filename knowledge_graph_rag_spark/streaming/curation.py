"""Streaming training-data curation (the datapipe twin of
``streaming.ingest.stream_documents_to_kg``).

Each micro-batch of interleaved/flat documents folds through the SAME
row-local curation rules as ``plans.datapipe.curate`` — exact dedup (against
everything already accepted), Gopher quality gate, deterministic hash
sample, token stats — with the stream-specific shape:

- **State = a partitioned table, not memory.** The accepted-content-hash set
  lives in ``dp_<dataset>_stream_hashes``; each batch commits ONE new
  ``graph_id=b<batch_id>`` partition to it and to the curated/token-stats
  tables via the partition-scoped snapshot protocol, so per-batch commit
  cost is O(batch), never O(corpus) — no history rewrite, ever.
- **Exactly-once.** The streaming checkpoint replays a crashed batch with
  the same batch_id and the manifest guard (``dp_stream::<dataset>::b<id>``)
  makes the replay a no-op — same contract as run_incremental.
- **First-seen-wins dedup.** Arrival order decides the surviving doc for
  identical content (within a batch: min doc_id, matching dedup_exact).
  Cross-batch NEAR-dup is opt-in (``near_dup_online=True``): the global
  banded MinHash bucket index the stage needs is itself stream state
  (``dp_<dataset>_stream_lshidx``, one immutable partition per batch), so
  each batch probes the accepted corpus's buckets, drops its near-dups
  (optionally exact-verified) and appends only its survivors' buckets —
  O(batch) signature work, the corpus is never re-shingled. Compaction
  (CC-transitive tombstones) remains available on top; with the knob off
  the pre-r05 defer-to-compaction behavior is unchanged.

Stream == batch parity (when batches arrive in doc_id order, so first-seen
coincides with min-id) is pinned by test_stream_curation_matches_batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.graph_store import GraphStore

HASHES_TABLE = "stream_hashes"
DOCS_TABLE = "stream_docs"
STATS_TABLE = "stream_token_stats"
LSHIDX_TABLE = "stream_lshidx"


#: a (band, bucket) group larger than this on the INDEX side is skipped in
#: the online probe join — one degenerate boilerplate bucket must not make
#: the per-batch join O(batch × corpus) as the index accrues (same bound
#: philosophy as dedup._cap_band_buckets and the ngram df cap). Docs in a
#: capped bucket almost always share their other 11 bands with their true
#: near-dups, so the recall loss is the band-redundancy tail, documented.
ONLINE_BUCKET_CAP = 128

_NUM_BANDS = 12


def _online_near_dup_drops(
    kept: DataFrame, store: GraphStore, dataset_id: str, batch_id: int,
    jaccard_max_dist: float, verify_threshold: float | None,
) -> tuple[DataFrame, DataFrame]:
    """``(drop_ids, nb)``: doc_ids of ``kept`` to drop under ONLINE
    near-dup, plus the batch's (eagerly checkpointed) bucket table so the
    caller can commit the survivors' buckets WITHOUT re-running the
    signature pipeline. A doc drops when it has a near-dup neighbor already
    in the curated corpus (cross-batch, via the persisted banded-bucket
    index) or a SMALLER-id near-dup neighbor inside this batch — greedy
    first-seen-survives, the stream-order semantic. (Compaction's
    CC-with-min-representative can merge transitively and drop slightly
    more; the tombstone pass remains available on top.)

    Candidate pairs are distance-filtered by matching-band count: the
    bucket join yields one row per matching band, and a pair needs
    ``count(band) ≥ ceil((1 − jaccard_max_dist) · 12)`` — its MinHash
    ESTIMATE of Jaccard distance within the bound — so a raw single-band
    collision is never a verdict. This is not the batch rule:
    ``minhash_lsh_pairs`` (``approxSimilarityJoin``) filters the same
    candidates by the EXACT Jaccard distance of the hashed shingle sets, so
    a pair whose band agreement departs from its true similarity can drop
    here and survive batch ``curate``.
    ``verify_threshold`` additionally confirms survivors by exact trigram
    Jaccard — partner text comes from the accepted docs table via a
    candidate-bounded semi-join, never a full corpus scan."""
    from pyspark.sql import Window

    from ..operators.dedup import _minhash_buckets, verify_pairs_exact_jaccard

    min_bands = int(-(-(1.0 - jaccard_max_dist) * _NUM_BANDS // 1))  # ceil
    nb = _minhash_buckets(kept, "doc_id", "text").localCheckpoint(eager=True)
    a = nb.select(
        F.col("band"), F.col("bucket"), F.col("id").alias("id_a")
    )
    b = nb.select(
        F.col("band"), F.col("bucket"), F.col("id").alias("id_b")
    )
    # id_a is ALWAYS the drop side (matches the cross-batch orientation):
    # within a batch the larger id drops, its smaller near-dup survives
    in_batch = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") > F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("bands"))
        .filter(F.col("bands") >= min_bands)
        .select("id_a", "id_b")
    )
    pairs = in_batch
    prior_texts = kept.select("doc_id", "text").limit(0)
    idx_tbl = f"dp_{dataset_id}_{LSHIDX_TABLE}"
    docs_tbl = f"dp_{dataset_id}_{DOCS_TABLE}"
    if store.exists(idx_tbl):
        # crash-replay safety: this batch's own partition may already be
        # visible — exclude it or the replay dedups the batch against itself
        idx = store.read(idx_tbl).filter(
            F.col("graph_id") != f"b{batch_id}"
        )
        # hot-bucket cap: bound the join fan-out per (band, bucket) — the
        # window shares the join's interest in the bucket key; a capped
        # bucket contributes nothing rather than O(corpus) rows
        wb = Window.partitionBy("band", "bucket")
        idx = idx.withColumn("_df", F.count("*").over(wb)).filter(
            F.col("_df") <= ONLINE_BUCKET_CAP
        ).drop("_df")
        cross = (
            nb.join(idx, ["band", "bucket"])
            .groupBy(
                F.col("id").alias("id_a"),
                F.col("doc_id").alias("id_b"),
            )
            .agg(F.count("*").alias("bands"))
            .filter(F.col("bands") >= min_bands)
            .select("id_a", "id_b")
        )
        if verify_threshold is not None and store.exists(docs_tbl):
            prior_texts = (
                store.read(docs_tbl)
                .filter(F.col("graph_id") != f"b{batch_id}")
                .join(
                    cross.select(F.col("id_b").alias("doc_id")).distinct(),
                    "doc_id", "left_semi",
                )
                .select("doc_id", "text")
            )
        pairs = pairs.unionByName(cross)
    if verify_threshold is not None:
        texts = kept.select("doc_id", "text").unionByName(prior_texts)
        pairs = verify_pairs_exact_jaccard(
            pairs, texts, id_col="doc_id", text_col="text",
            threshold=verify_threshold,
        ).select("id_a", "id_b")
    return pairs.select(F.col("id_a").alias("doc_id")).distinct(), nb


def _fold_batch(batch_df: DataFrame, store: GraphStore, dataset_id: str,
                batch_id: int, sample_fraction: float,
                near_dup_online: bool = False,
                near_dup_max_dist: float = 0.2,
                near_dup_verify_threshold: float | None = None,
                benchmark: DataFrame | None = None,
                decontam_ngram: int = 13,
                pii_scrub: bool = False) -> None:
    from ..functions.text import (
        BPE_PRETOKEN_REGEX,
        GOPHER_WS,
        gopher_quality_cols,
    )
    from ..operators.dedup import dedup_exact
    from ..operators.sampling import hash_sample

    guard = f"{dataset_id}::b{batch_id}"
    if store.is_done("dp_stream", guard):
        return  # replayed batch — already committed, exactly-once
    hashes_tbl = f"dp_{dataset_id}_{HASHES_TABLE}"
    docs_tbl = f"dp_{dataset_id}_{DOCS_TABLE}"
    stats_tbl = f"dp_{dataset_id}_{STATS_TABLE}"

    deduped = dedup_exact(
        batch_df.select("doc_id", "text"), "doc_id", "text"
    ).withColumn("_h", F.md5("text"))
    if store.exists(hashes_tbl):
        # CRASH-REPLAY SAFETY: exclude this batch's OWN partition from the
        # seen set. A crash after the hashes commit but before mark_done
        # replays the batch with its own hashes already visible — without
        # this filter the replay would dedup the batch against itself and
        # commit an EMPTY docs partition (silent data loss). With it, the
        # replay recomputes identically and the partition-scoped upsert
        # overwrites b<batch_id> idempotently at every crash point.
        seen = store.read(hashes_tbl).filter(
            F.col("graph_id") != f"b{batch_id}"
        ).select("_h")
        deduped = deduped.join(seen, "_h", "left_anti")
    # hashes are recorded PRE-SAMPLE (post-quality): sampling is keyed on
    # doc_id, not content, so a sampled-OUT doc's content must still be
    # remembered — otherwise a later-batch duplicate with a different
    # doc_id re-rolls the sample and can be admitted, diverging from the
    # batch pipeline (which dedups the whole corpus before sampling).
    # Quality-rejected docs need no hash: the gate is content-based, so a
    # later duplicate re-evaluates to the same rejection.
    # one pass: checkpoint the heavy dedup/anti-join/quality plan ONCE,
    # then derive the sample from the CHECKPOINTED frame — deriving it from
    # the raw plan would re-run the anti-join against the ever-growing
    # hashes table a second time per batch (blocks reclaimed after fold)
    if benchmark is not None:
        # decontam mirrors the batch stage order (after dedup, before
        # quality); content-based and benchmark-fixed, so a crash replay
        # recomputes the identical drop set. deduped feeds BOTH the shingle
        # branch and the anti-join's left side — checkpoint it so the
        # dedup window + ever-growing hashes anti-join run once per batch,
        # not twice
        from ..operators.decontam import decontaminate

        deduped = deduped.localCheckpoint(eager=True)
        contaminated = decontaminate(
            deduped, benchmark, id_col="doc_id", text_col="text",
            n=decontam_ngram,
        ).filter(F.col("contaminated")).select("doc_id")
        deduped = deduped.join(contaminated, "doc_id", "left_anti")
    passed = deduped.filter(
        gopher_quality_cols(F.col("text"))["keep"]
    ).localCheckpoint(eager=True)
    if pii_scrub:
        # after quality (batch parity): dedup hashes stay md5 of the RAW
        # text (passed._h is committed unchanged below) while docs/token
        # stats — and the online near-dup index — see scrubbed text, the
        # same view compaction would re-shingle
        from ..functions.pii import redact_pii_col

        scrubbed = passed.withColumn("text", redact_pii_col(F.col("text")))
    else:
        scrubbed = passed
    docs = hash_sample(scrubbed, "doc_id", sample_fraction)

    gid = F.lit(f"b{batch_id}")
    survivor_buckets = None
    if near_dup_online and not docs.isEmpty():
        # ONLINE cross-batch near-dup: the curated corpus's banded-bucket
        # index IS stream state (dp_<id>_stream_lshidx, one graph_id=b<n>
        # partition per batch — O(batch) commit like every other state
        # table). New docs near-dupping ANY prior accepted doc (or a
        # smaller-id doc in this batch) drop before commit; the index then
        # gains only the survivors' buckets, so the corpus is never
        # re-shingled — this closes the "LSH needs a global index" gap that
        # previously deferred all near-dup to compaction.
        drops, nb = _online_near_dup_drops(
            docs.select("doc_id", "text"), store, dataset_id, batch_id,
            near_dup_max_dist, near_dup_verify_threshold,
        )
        docs = docs.join(drops, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        # survivors' buckets ARE nb minus the dropped ids (assignment is
        # deterministic per doc) — never run the signature pipeline twice
        survivor_buckets = nb.join(
            drops.withColumnRenamed("doc_id", "id"), "id", "left_anti"
        )
    store.upsert_graph_partitions(
        hashes_tbl, passed.select(gid.alias("graph_id"), "_h")
    )
    store.upsert_graph_partitions(
        docs_tbl, docs.select(gid.alias("graph_id"), "doc_id", "text")
    )
    if survivor_buckets is not None:
        # committed AFTER the docs partition: a crash between the two must
        # leave idx-exists ⇒ docs-exists, or the replay's verification read
        # of the docs table would wedge the stream permanently
        store.upsert_graph_partitions(
            f"dp_{dataset_id}_{LSHIDX_TABLE}",
            survivor_buckets.select(
                gid.alias("graph_id"),
                "band", "bucket",
                F.col("id").alias("doc_id"),
            ),
        )
    ws_toks = F.filter(
        F.split(F.col("text"), GOPHER_WS + "+"), lambda x: x != F.lit("")
    )
    store.upsert_graph_partitions(
        stats_tbl,
        docs.select(
            gid.alias("graph_id"),
            "doc_id",
            F.size(ws_toks).cast("long").alias("ws_tokens"),
            F.size(F.regexp_extract_all(
                F.col("text"), F.lit(BPE_PRETOKEN_REGEX), 0
            )).cast("long").alias("bpe_tokens"),
            F.length("text").cast("long").alias("chars"),
        ),
    )
    store.mark_done("dp_stream", guard)


def compact_stream_curation(
    store: GraphStore,
    dataset_id: str,
    near_dup_max_dist: float = 0.2,
    near_dup_strategy: str = "minhash",
    near_dup_verify_threshold: float | None = None,
) -> int:
    """The deferred cross-batch near-dup stage: run MinHash-LSH + connected
    components over ALL accepted docs and write the drop set as a TOMBSTONE
    table (``dp_<dataset>_neardup_drops``) — the accepted per-batch
    partitions stay immutable (no history rewrite; the tombstone is tiny and
    applied at read time by read_curated). Re-runnable: each compaction
    recomputes the full drop set from the current accepted table, so it is
    idempotent and monotone as batches accrue. Returns the number of
    tombstoned doc_ids. ``near_dup_verify_threshold`` confirms candidates by
    exact Jaccard before tombstoning (same knob as datapipe.curate — an
    unverified banding collision would hide a good doc from read_curated)."""
    from ..plans.datapipe import _near_dup_drop_ids

    docs_tbl = f"dp_{dataset_id}_{DOCS_TABLE}"
    drops_tbl = f"dp_{dataset_id}_neardup_drops"
    docs = store.read(docs_tbl).select("doc_id", "text")
    drops = _near_dup_drop_ids(docs, near_dup_max_dist, near_dup_strategy,
                               near_dup_verify_threshold)
    store.write_snapshot(drops_tbl, drops)
    return sum(n for _, n in store.file_rows(drops_tbl))


def read_curated(store: GraphStore, dataset_id: str) -> DataFrame:
    """The curated corpus view: accepted stream docs minus near-dup
    tombstones (if a compaction has run)."""
    docs = store.read(f"dp_{dataset_id}_{DOCS_TABLE}").select("doc_id", "text")
    drops_tbl = f"dp_{dataset_id}_neardup_drops"
    if store.exists(drops_tbl):
        docs = docs.join(store.read(drops_tbl), "doc_id", "left_anti")
    return docs


def stream_documents_to_curation(
    docs_stream: DataFrame,
    store: GraphStore,
    dataset_id: str = "corpus",
    checkpoint_dir: str | None = None,
    sample_fraction: float = 1.0,
    available_now: bool = True,
    near_dup_online: bool = False,
    near_dup_max_dist: float = 0.2,
    near_dup_verify_threshold: float | None = None,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 13,
    pii_scrub: bool = False,
):
    """foreachBatch curation sink over a (doc_id, text, …) document stream.
    Returns the started StreamingQuery.

    ``benchmark`` / ``decontam_ngram`` / ``pii_scrub`` are the streaming
    twins of datapipe.curate's opt-in stages, applied in the same order
    (decontam after dedup before quality; PII redaction after quality, so
    token stats count scrubbed text). The benchmark frame must be a static
    DataFrame — it is re-broadcast per micro-batch.

    ``near_dup_online=True`` maintains a persisted banded MinHash bucket
    index as stream state and drops each batch's near-dups of the already-
    accepted corpus (and smaller-id in-batch near-dups) BEFORE commit —
    cross-batch near-dup per micro-batch, no longer deferred to compaction
    (which stays available for CC-transitive cleanup on top). Candidates
    are distance-filtered by matching-band fraction exactly like the batch
    path's ``minhash_lsh_pairs(jaccard_max_dist=near_dup_max_dist)`` — a
    raw single-band collision never drops a doc.
    ``near_dup_verify_threshold`` additionally confirms every online
    candidate by exact trigram Jaccard (same guard as datapipe)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        _fold_batch(batch_df, store, dataset_id, batch_id, sample_fraction,
                    near_dup_online=near_dup_online,
                    near_dup_max_dist=near_dup_max_dist,
                    near_dup_verify_threshold=near_dup_verify_threshold,
                    benchmark=benchmark, decontam_ngram=decontam_ngram,
                    pii_scrub=pii_scrub)

    writer = (
        docs_stream.writeStream.outputMode("append").foreachBatch(fold)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
