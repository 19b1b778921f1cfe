"""Deduplication operators for training-data pipelines.

Five dedup strategies over a generic (id, text) frame — the large-scale
data-pipeline layer the task brief requires alongside the reference parity
(exact dedup is also the reference's A4/U3 semantics):

- exact:       content-hash groupBy (one shuffle on the 32-hex key)
- minhash_lsh: shingle → MinHashLSH banding → bucket join (Spark ML, JVM;
  Broder, "On the resemblance and containment of documents", 1997)
- simhash:     64-bit simhash (Charikar, "Similarity estimation techniques
               from rounding algorithms", STOC 2002) via vectorized pandas
               UDF → band join on 16-bit sub-keys (pigeonhole: Hamming ≤ 3
               over 4 bands shares a band) → native bit_count verify
- ngram_jaccard: exact shingle-join Jaccard (the verifier for the approx paths)
- embedding_cosine: near-dup via feature-hash embedding + blocked cosine join

All return pair/cluster frames keyed by the caller's id column; canonical
representative election composes with operators.canonicalize.connected_components.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .link import cosine_sim_col, embed_surfaces


def exact_duplicates(df: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Groups of ids sharing identical content (md5). Returns
    (content_hash, n_dups, ids sorted array) for groups with n > 1."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """Keep the min-id row per identical content — first-seen-wins semantics
    (reference A4). ONE shuffle: row_number over partitionBy(content-hash)
    ordered by id, keep rank 1 — the r04 groupBy + left_semi form paid a
    second Exchange (hash agg on _h, then a join back on id) for the same
    result. This op sits on the curation hot path (once per corpus in
    datapipe.curate AND once per micro-batch in the streaming sink), so the
    saved shuffle is per-batch at 100 TB. Per-key state is a spill-backed
    sort buffer, so a degenerate hash with 10^9 duplicates spills, never
    OOMs a reducer."""
    from pyspark.sql import Window

    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-grams — native transform/slice, no UDF,
    and (r06) NO shuffle: dedup is a per-row ``array_distinct`` before the
    explode instead of a global ``.distinct()``. The (id, shingle) output is
    still globally distinct because each id owns exactly one input row —
    the dedup-family contract (``id`` is the caller's unique document key,
    the same assumption every consumer already makes). Dropping the
    distinct removes a full Exchange + two-sided hash agg of the entire
    shingle stream from every consumer (ngram Jaccard, decontamination,
    MinHash featurization).

    The token array is MATERIALIZED as a projected column before the gram
    lambda reads it via F.get: if the split expression were inlined there,
    each per-element F.get(w, i+k) would re-evaluate the full regex
    tokenization — O(len²) splits per row, measured 6× on the sf0.1 bench
    (17.5 s → 2.5 s). Catalyst's CollapseProject keeps the projection
    because the non-cheap alias is referenced more than once.

    The old ``size(w) >= n`` pre-filter is gone for the same reason the
    r05 lesson predicts: the optimizer pushed it below the token projection
    and re-evaluated the full tokenization once in the Filter and again in
    the Project (both visible in the r06 sf1.0 decontam plan). A
    ``greatest(size - (n-1), 0)`` slice bound gives short docs an empty
    gram array — same rows out, one tokenization per row instead of two."""
    from ..functions.text import wsplit_tokens_col

    w = wsplit_tokens_col(F.col(text_col))
    toks = df.select(F.col(id_col).alias("id"), w.alias("w"))
    grams = F.transform(
        F.slice(F.col("w"), 1, F.greatest(F.size("w") - (n - 1), F.lit(0))),
        lambda x, i: F.concat_ws(
            " ", *([x] + [F.get(F.col("w"), i + k) for k in range(1, n)])
        ),
    )
    return toks.select("id", F.explode(F.array_distinct(grams)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    n: int = 3, threshold: float = 0.8, max_df: int = 100,
    round_digits: int = 4, pair_partitions: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over word n-gram shingle sets.

    Scale shape: shingles with document frequency > ``max_df`` are dropped
    from BOTH the per-doc set sizes and the pair generation — the result is
    the exact Jaccard of the *filtered* shingle sets. Without the cap, one
    stop-phrase shingle with df=k costs k² join rows (O(Σ df²) blow-up).
    The df filter is a windowed count over ``partitionBy(shingle)``, NOT a
    separate df-aggregation + anti-join: the window shares ONE Exchange with
    the downstream groupBy(shingle) (same hash partitioning — no second
    shuffle), eliminates a full extra pass over the shingle stream (1.8×
    at sf0.1), and its per-key state is a spill-backed sort buffer, so a
    10^9-df stop-phrase shingle spills to disk and is filtered out without
    ever materializing an unbounded in-memory set — unlike both a forced
    broadcast of the hot set (driver-OOM at the 10^12-doc design point, the
    r03 flag) and a collect_set-then-filter single pass (reducer OOM on the
    hot key). Pair generation is bucket-explode (sorted collect_set per
    shingle → native combination expansion), not a self-join: one shuffle
    fewer and id_a < id_b holds by construction.

    r06 restructure (guide §2.4/§3): per-doc set sizes ride INSIDE the pair
    stream instead of being joined back onto it. The old shape aggregated
    (id_a, id_b) pairs and then joined two per-doc ``sizes`` frames onto the
    O(Σ df²) pair aggregate — with unknown stats on the checkpointed
    intermediate the planner broadcast the PAIR side (measured 67M rows,
    ~seconds of single-threaded HashedRelation build at sf1.0, and a
    driver-OOM at scale), while hinting sizes instead is the r04-flagged
    unbounded broadcast. Now a second window (partitionBy(id), one Exchange
    of the capped shingle stream — O(corpus), spill-backed) attaches ``sz``
    to every (id, shingle) row BEFORE bucketing, the bucket arrays collect
    (id, sz) structs, pair expansion emits sizes alongside ids, and the
    jaccard filter runs straight on the pair aggregate: ZERO joins below
    the quadratic stream, nothing unbounded is ever broadcast, and the
    only O(Σ df²) operation left is the one hash aggregation the
    intersection count fundamentally requires."""
    from pyspark.sql import Window

    sh = word_shingles(df, id_col, text_col, n)
    w = Window.partitionBy("shingle")
    sh_ok = sh.withColumn("df", F.count("*").over(w)).filter(
        F.col("df") <= max_df
    ).drop("df")
    wid = Window.partitionBy("id")
    sized = sh_ok.withColumn("sz", F.count("*").over(wid))
    grouped = sized.groupBy("shingle").agg(
        F.sort_array(F.collect_set(F.struct("id", "sz"))).alias("ids")
    )
    # The bucket-array frame is tiny in BYTES (one row per distinct capped
    # shingle) but quadratically large in WORK (each row explodes into
    # C(df, 2) pairs) — AQE sizes stages by bytes, so left alone it
    # coalesces this stage down to one or two tasks that then emit tens of
    # millions of pair rows single-threaded. Spread the buckets round-robin
    # across the cluster before the explode.
    sc = df.sparkSession.sparkContext
    n_pair_parts = pair_partitions or 4 * sc.defaultParallelism
    buckets = grouped.filter(F.size("ids") >= 2).repartition(
        sc.defaultParallelism
    )
    ids = F.col("ids")
    # Pair expansion as TWO stacked Generates (posexplode the bucket, then
    # explode the tail slice) instead of one nested flatten/transform
    # building the full C(df, 2) struct array per bucket row: higher-order
    # functions are CodegenFallback, so the nested form interpreted the
    # whole quadratic expansion AND materialized it as one array per
    # bucket; two Generates pipeline inside one whole-stage-codegen stage
    # with no intermediate array. Measured 6× on the explode stage at
    # sf1.0 (1.6 s → 0.26 s for 71M pairs). Same pair set, same order
    # guarantees (id_a < id_b from the sorted bucket array).
    # Hash-repartition the raw pair stream WIDER than shuffle.partitions and
    # let the groupBy reuse that partitioning (same keys → no second
    # Exchange). Two reasons (guide §2.5/§5): (1) map-side partial
    # aggregation is useless here (measured 71M pair occurrences → 67M
    # distinct pairs at sf1.0 — near-zero reduction) yet would build a
    # multi-million-entry hash map per map task, which spills; skipping
    # straight to the exchange makes the map side a pure stream. (2) the
    # reduce-side aggregate state is O(distinct pairs) — at the default 32
    # partitions each final task held ~2M × 48 B groups and spilled
    # (unstable 14-33 s runs); 4× cluster width bounds per-task state, and
    # ``pair_partitions`` lets a 100 TB caller size it from data volume.
    pairs = (
        buckets.select("ids", F.posexplode(ids).alias("i", "x"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("x.sz").alias("sz_a"),
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("y"),
        )
        .select("id_a", "sz_a", F.col("y.id").alias("id_b"), F.col("y.sz").alias("sz_b"))
    )
    # Size filter (the classic length filter of the similarity-join
    # literature), applied per occurrence BEFORE the pair exchange: even a
    # full overlap (isect = min(sz)) caps jaccard at min/(sz_a+sz_b-min),
    # so pairs below that cap can never pass and every occurrence of such
    # a pair is dropped map-side. Exact, including in floating point:
    # isect ≤ min with an exact integer denominator makes the real
    # quotients ordered, and IEEE division is monotone, so the computed
    # jaccard of a dropped pair is ≤ the computed cap < threshold. Prunes
    # little on near-uniform doc lengths, a lot on mixed corpora.
    _mn = F.least("sz_a", "sz_b")
    pairs = pairs.filter(
        _mn / (F.col("sz_a") + F.col("sz_b") - _mn) >= threshold
    )
    inter = (
        pairs.repartition(n_pair_parts, "id_a", "id_b", "sz_a", "sz_b")
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("isect"))
    )
    jac = F.col("isect") / (F.col("sz_a") + F.col("sz_b") - F.col("isect"))
    return (
        inter.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, round_digits).alias("jaccard"))
    )


def verify_pairs_exact_jaccard(
    pairs: DataFrame, docs: DataFrame,
    id_col: str = "id", text_col: str = "text",
    n: int = 3, threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE pairs (id_a, id_b) — the
    second half of the standard candidate-generation → exact-verify dedup
    pattern (candidates from minhash_lsh_pairs / simhash_pairs /
    embedding_cosine_pairs). Cost is O(|pairs|), independent of corpus
    size: each side's shingle set is built once per doc (distinct word
    n-grams), the pair join brings both arrays onto one row, and the
    Jaccard is native array_intersect/array_union — no per-pair shuffle of
    the shingle stream and no UDF. Unlike ngram_jaccard_pairs (which finds
    pairs from scratch under a df cap), this computes the UNFILTERED exact
    Jaccard of the two full shingle sets."""
    from ..functions.text import wsplit_tokens_col

    w = wsplit_tokens_col(F.col(text_col))
    # token array materialized before the gram lambda reads it with F.get —
    # inlining the split there re-evaluates the regex per element (see
    # word_shingles)
    grams = F.array_distinct(
        F.transform(
            F.slice(F.col("w"), 1, F.greatest(F.size("w") - (n - 1), F.lit(0))),
            lambda x, i: F.concat_ws(
                " ", *([x] + [F.get(F.col("w"), i + k) for k in range(1, n)])
            ),
        )
    )
    # prune docs to ids that actually appear in a pair BEFORE building the
    # gram arrays — candidate sets are tiny next to the corpus, and without
    # the semi-join every corpus row pays the split/transform/distinct cost
    pair_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col))
        .join(pair_ids, "id", "left_semi")
        .select("id", w.alias("w"))
        .select("id", grams.alias("grams"))
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    isect = F.size(F.array_intersect("ga", "gb"))
    un = F.size(F.array_union("ga", "gb"))
    jac = F.when(un == 0, F.lit(0.0)).otherwise(isect / un)
    return (
        pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


#: HashingTF space for MinHash features — fixed, so NO driver-side vocabulary
#: is ever built (CountVectorizer.fit would materialize the full shingle
#: vocabulary on the driver: billions of terms at 100 TB).
MINHASH_NUM_FEATURES = 1 << 20


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    jaccard_max_dist: float = 0.3, num_hash_tables: int = 12,
) -> DataFrame:
    """MinHash+LSH candidate pairs over word-3-gram shingles (Spark ML
    approxSimilarityJoin — banding + bucket join, all JVM).

    Features come from HashingTF (stateless fixed 2^20 hash space, binary
    presence), not CountVectorizer: no .fit pass, no driver-side vocabulary,
    so the executor/driver memory is independent of corpus vocabulary size."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = word_shingles(df, id_col, text_col, 3).groupBy("id").agg(
        F.collect_list("shingle").alias("shingles")
    )
    ht = HashingTF(
        inputCol="shingles", outputCol="features",
        numFeatures=MINHASH_NUM_FEATURES, binary=True,
    )
    feats = ht.transform(sh)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(feats)
    joined = lsh.approxSimilarityJoin(feats, feats, jaccard_max_dist, "dist")
    return joined.filter(F.col("datasetA.id") < F.col("datasetB.id")).select(
        F.col("datasetA.id").alias("id_a"),
        F.col("datasetB.id").alias("id_b"),
        F.round(F.lit(1.0) - F.col("dist"), 4).alias("est_jaccard"),
    )


# --- SimHash ------------------------------------------------------------------

_SIMHASH_BITS = 64


#: tokens longer than this hash via the scalar loop — the padded matrix is
#: (n_tokens, maxlen), so ONE degenerate "token" (a base64 blob, an
#: unsegmented CJK document, a long URL) must not scale every row's padding;
#: natural-language words are far below this.
_FNV_VEC_MAXLEN = 64


def _fnv1a_scalar(b: bytes) -> int:
    h = 0xCBF29CE484222325
    for ch in b:
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fnv1a_batch(tokens) -> np.ndarray:
    """Vectorized FNV-1a-64 over a sequence of tokens, bit-identical to the
    scalar per-byte loop. All token bytes go into ONE padded (n, maxlen)
    uint8 matrix (single ``b"".join`` + scatter — no per-byte Python), then
    the sequential hash recurrence runs as a maxlen-step loop where each
    step is one vectorized xor-multiply across all tokens still active at
    that byte position. Tokens longer than _FNV_VEC_MAXLEN fall back to the
    scalar loop so one huge blob-token can't inflate the padding for the
    whole batch (matrix stays ≤ n·64 bytes — uint8, upcast per column)."""
    bs = [t.encode("utf-8") for t in tokens]
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    h = np.full(len(bs), 0xCBF29CE484222325, dtype=np.uint64)
    if len(bs) == 0 or lens.max(initial=0) == 0:
        return h
    long_idx = np.nonzero(lens > _FNV_VEC_MAXLEN)[0]
    if len(long_idx):
        for j in long_idx:
            h[j] = _fnv1a_scalar(bs[j])
        vlens = lens.copy()
        vlens[long_idx] = 0  # exclude from the vectorized pass
        vbs = [b if len(b) <= _FNV_VEC_MAXLEN else b"" for b in bs]
    else:
        vlens, vbs = lens, bs
    maxlen = int(vlens.max(initial=0))
    if maxlen == 0:
        return h
    allb = np.frombuffer(b"".join(vbs), dtype=np.uint8)
    rows = np.repeat(np.arange(len(vbs)), vlens)
    cols = np.arange(len(allb)) - np.repeat(np.cumsum(vlens) - vlens, vlens)
    mat = np.zeros((len(vbs), maxlen), dtype=np.uint8)
    mat[rows, cols] = allb
    prime = np.uint64(0x100000001B3)
    for i in range(maxlen):
        active = vlens > i
        # uint8 column upcasts to uint64 in the xor; uint64 wraps on multiply
        h[active] = (h[active] ^ mat[active, i].astype(np.uint64)) * prime
    return h


_SWAR_LANE = np.uint64(0x0101010101010101)


def _swar_bit_ones(hs: np.ndarray, starts: np.ndarray,
                   ends: np.ndarray) -> np.ndarray:
    """Per-segment per-bit one-counts over contiguous uint64 hash segments:
    returns (n_segments, 64) int64 where [s, b] = Σ_{i∈seg s} bit_b(hs[i]).

    SWAR byte lanes: ``(hs >> k) & 0x0101…01`` spreads bits k, k+8, …, k+56
    into separate byte counters, so 8 shifted 1-D ``np.add.reduceat`` passes
    count all 64 bits with NO (n_tokens, 64) expansion — that wide int64
    intermediate is 64× the hash array and is the memory-bandwidth wall on
    big batches. Byte counters overflow at 256, so segments longer than 255
    are split into subsegments and re-summed in int64 (overflow-free)."""
    n_seg = len(starts)
    lens = ends - starts
    if lens.max(initial=0) <= 255:
        sub_starts, sub_per_seg = starts, None
    else:
        bounds = [np.arange(s, e, 255, dtype=np.int64) for s, e in zip(starts, ends)]
        sub_starts = np.concatenate(bounds)
        sub_per_seg = np.fromiter(
            (len(b) for b in bounds), dtype=np.int64, count=n_seg
        )
    acc = np.empty((8, len(sub_starts)), dtype=np.uint64)
    for k in range(8):
        acc[k] = np.add.reduceat((hs >> np.uint64(k)) & _SWAR_LANE, sub_starts)
    # unpack lanes: byte j of lane k counts bit (k + 8j) → little-endian
    # uint8 view reshaped (lane, seg, byte); bit index k+8j = flat j*8+k
    ones_sub = (
        acc.view(np.uint8).reshape(8, len(sub_starts), 8)
        .transpose(1, 2, 0).reshape(len(sub_starts), 64).astype(np.int64)
    )
    if sub_per_seg is None:
        return ones_sub
    seg_bounds = np.cumsum(sub_per_seg) - sub_per_seg
    return np.add.reduceat(ones_sub, seg_bounds, axis=0)


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens — token hashes via a fixed FNV-1a (no
    Python ``hash()``: seed-independent). Fully batch-vectorized: tokens
    from ALL rows of the Arrow batch are flattened, deduplicated
    (pd.factorize — the batch vocabulary is far smaller than the token
    stream, so each distinct token is FNV-hashed once), hashed by the numpy
    byte-position FNV (_fnv1a_batch), and per-doc bit votes reduce via SWAR
    byte-lane segment sums (_swar_bit_ones). No per-byte or per-token Python
    in the hot path; results are bit-identical to the scalar FNV-1a form
    (~2× the per-doc numpy form on 10k-doc batches, and the giant
    (n_tokens, 64) intermediate the naive vectorization needs is gone)."""
    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)

    def batch(vals: pd.Series) -> np.ndarray:
        tok_lists = [t.lower().split() if t else [] for t in vals]
        n_toks = np.fromiter(
            (len(ts) for ts in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        out = np.zeros(len(tok_lists), dtype=np.int64)
        flat = [tok for ts in tok_lists for tok in ts]
        if not flat:
            return out
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
        hs = _fnv1a_batch(list(uniq))[codes]  # per-token hashes, multiplicity kept
        nonzero = n_toks > 0
        ends = np.cumsum(n_toks)
        ones = _swar_bit_ones(hs, (ends - n_toks)[nonzero], ends[nonzero])
        votes = 2 * ones - n_toks[nonzero][:, None]
        sim = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
        out[nonzero] = sim.view(np.int64)  # two's-complement for LongType
        return out

    return pd.Series(batch(texts))


def _cap_band_buckets(bands: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop band buckets with more than ``cap`` members. Empty / near-empty
    docs all hash to the same value (sh=0) and would otherwise form one
    quadratic bucket (1M empty docs → 10^12 candidate rows in ONE task).
    The df count is a map-side-combined agg — no hot key materializes.
    Recall tradeoff: a pair whose only shared band was capped is missed;
    identical docs belong to the exact-dedup pass anyway."""
    big = bands.groupBy(*keys).agg(F.count("*").alias("bn")).filter(
        F.col("bn") > cap
    )
    return bands.join(big.select(*keys), keys, "left_anti")


def simhash_band_structs(sh_col) -> "F.Column":
    """THE 4×16-bit banding of a 64-bit simhash, as an array of
    (band, key) structs — explode it to get one row per band. Single
    definition shared by simhash_pairs, embedding_cosine_pairs and the
    simhash_band_profile driver entry, so the frozen profile literal
    really pins the blocking scheme the operators use (pigeonhole: any
    pair within Hamming ≤ 3 shares at least one identical band)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(sh_col, i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("key"),
            )
            for i in range(4)
        ]
    )


def simhash_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    max_hamming: int = 3, band_cap: int = 256,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Scale path: band the 64-bit hash into four 16-bit keys — any pair within
    Hamming 3 shares at least one identical band (pigeonhole), so candidate
    generation is 4 equi-joins, then a native bit_count verify. No O(n²).
    Band buckets larger than ``band_cap`` are dropped (see
    _cap_band_buckets) so degenerate hashes can't go quadratic."""
    # localCheckpoint, not cache(): a library function must not leave managed
    # memory pinned after the caller drops the result — checkpoint blocks are
    # reclaimed by the ContextCleaner once unreferenced, and the truncated
    # lineage is what the band self-join reuses. Tradeoff: lineage truncation
    # means a lost executor fails the job instead of recomputing — on
    # clusters with preemptible executors, prefer reliable checkpointing
    # (spark.sparkContext.setCheckpointDir + .checkpoint()) at the call site
    hashed = df.select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh")
    ).localCheckpoint(eager=False)
    bands = hashed.select(
        "id", "sh", F.explode(simhash_band_structs(F.col("sh"))).alias("bk")
    ).select("id", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bands = _cap_band_buckets(bands, ["band", "key"], band_cap)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.filter(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.alias("hamming")
    )


def embedding_cosine_pairs(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    threshold: float = 0.92, band_cap: int = 256,
) -> DataFrame:
    """Embedding near-dup: feature-hash embedding + SimHash-banded blocking
    (reuses the simhash bands as the coarse blocker), cosine verify.
    Band buckets above ``band_cap`` are dropped (see _cap_band_buckets)."""
    emb = df.select(
        F.col(id_col).alias("id"),
        embed_surfaces(F.col(text_col)).alias("emb"),
        simhash64(F.col(text_col)).alias("sh"),
    )
    bands = emb.select(
        "id", "emb", F.explode(simhash_band_structs(F.col("sh"))).alias("bk")
    ).select("id", "emb", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    bands = _cap_band_buckets(bands, ["band", "key"], band_cap)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.emb").alias("emb_a"), F.col("b.emb").alias("emb_b"),
        )
        .distinct()
    )
    cos = cosine_sim_col(F.col("emb_a"), F.col("emb_b"))
    return cand.filter(cos >= threshold).select(
        "id_a", "id_b", F.round(cos, 4).alias("cosine")
    )


# --- persisted MinHash-LSH index (incremental cross-corpus near-dup) ---------


def _minhash_buckets(
    df: DataFrame, id_col: str = "id", text_col: str = "text",
    num_hash_tables: int = 12,
) -> DataFrame:
    """``(id, band, bucket)`` banded MinHash bucket assignments — the
    session-independent building block of the persisted near-dup index.

    Stability contract: HashingTF is stateless (fixed 2^20 space) and the
    MinHash coefficient family is drawn from a FIXED seed, so the same
    document produces byte-identical (band, bucket) rows in any session, on
    any cluster, in any batch — which is what lets an index built yesterday
    answer probes computed today. Docs with <3 words have no shingles and
    get no buckets (they cannot near-dup by trigram overlap)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    sh = word_shingles(df, id_col, text_col, 3).groupBy("id").agg(
        F.collect_list("shingle").alias("shingles")
    )
    ht = HashingTF(
        inputCol="shingles", outputCol="features",
        numFeatures=MINHASH_NUM_FEATURES, binary=True,
    )
    feats = ht.transform(sh)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=42,
    ).fit(feats)
    hashed = model.transform(feats)
    return hashed.select(
        "id", F.posexplode("hashes").alias("band", "h")
    ).select(
        "id",
        F.col("band").cast("int").alias("band"),
        vector_to_array(F.col("h")).getItem(0).cast("long").alias("bucket"),
    )


def build_minhash_index(
    docs: DataFrame, path: str, id_col: str = "id", text_col: str = "text",
    num_hash_tables: int = 12,
) -> None:
    """Persist the banded-bucket table for ``docs`` as parquet PARTITIONED BY
    band (12 narrow partitions; each probe band joins only its own files).
    The point of the index: deduplicating N new docs against a B-doc corpus
    costs O(N signatures + bucket join) — the corpus is never re-shingled,
    re-hashed, or re-fit, which is the difference between an incremental
    ingest and an O(B) recompute per batch at 100 TB."""
    buckets = _minhash_buckets(docs, id_col, text_col, num_hash_tables)
    buckets.write.mode("overwrite").partitionBy("band").parquet(path)
    # meta travels on the SAME filesystem as the data (hdfs://, s3a://, …) —
    # an underscore-prefixed dir is invisible to the parquet reader
    docs.sparkSession.createDataFrame(
        [(num_hash_tables,)], "num_hash_tables int"
    ).coalesce(1).write.mode("overwrite").json(f"{path}/_lsh_meta")


def minhash_index_add(
    new_docs: DataFrame, path: str, id_col: str = "id",
    text_col: str = "text",
) -> None:
    """Append the new docs' buckets — O(new), corpus untouched (same
    maintenance shape as similarity.ivf_index_add)."""
    n = _read_lsh_meta(new_docs.sparkSession, path)
    _minhash_buckets(new_docs, id_col, text_col, n).write.mode(
        "append"
    ).partitionBy("band").parquet(path)


def minhash_index_probe(
    new_docs: DataFrame, path: str, id_col: str = "id",
    text_col: str = "text",
    jaccard_max_dist: float | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup CANDIDATES ``(probe_id, index_id)`` for ``new_docs`` against
    the persisted corpus index: any shared (band, bucket) — the standard
    LSH OR-of-bands rule. Candidates, not verdicts: compose with
    verify_pairs_exact_jaccard before acting on them (banding has false
    positives by design). Self-matches (same id on both sides) are dropped
    so an index that already contains the probe batch can be probed
    idempotently.

    ``jaccard_max_dist``: when set, a pair must share at least
    ``ceil((1 − jaccard_max_dist) · numHashTables)`` bands, i.e. its MinHash
    ESTIMATE of Jaccard distance (1 − matching bands / numHashTables) is
    within the bound. This is not ``minhash_lsh_pairs(jaccard_max_dist)``:
    ``approxSimilarityJoin`` keeps a candidate by the EXACT Jaccard distance
    of the hashed shingle sets, so a pair whose band agreement departs from
    its true similarity passes one rule and fails the other.
    ``bucket_cap``: skip index (band, bucket) groups larger than this —
    bounds the join fan-out when one degenerate boilerplate bucket accrues
    O(corpus) members (documented recall tail, same philosophy as
    _cap_band_buckets)."""
    from pyspark.sql import Window

    spark = new_docs.sparkSession
    n = _read_lsh_meta(spark, path)
    idx = spark.read.parquet(path).withColumnRenamed("id", "index_id")
    if bucket_cap is not None:
        wb = Window.partitionBy("band", "bucket")
        idx = idx.withColumn("_df", F.count("*").over(wb)).filter(
            F.col("_df") <= bucket_cap
        ).drop("_df")
    nb = _minhash_buckets(new_docs, id_col, text_col, n).withColumnRenamed(
        "id", "probe_id"
    )
    joined = nb.join(idx, ["band", "bucket"]).filter(
        F.col("probe_id") != F.col("index_id")
    )
    if jaccard_max_dist is None:
        return joined.select("probe_id", "index_id").distinct()
    min_bands = int(-(-(1.0 - jaccard_max_dist) * n // 1))  # ceil
    return (
        joined.groupBy("probe_id", "index_id")
        .agg(F.count("*").alias("bands"))
        .filter(F.col("bands") >= min_bands)
        .select("probe_id", "index_id")
    )


def _read_lsh_meta(spark, path: str) -> int:
    return int(
        spark.read.json(f"{path}/_lsh_meta").first()["num_hash_tables"]
    )
