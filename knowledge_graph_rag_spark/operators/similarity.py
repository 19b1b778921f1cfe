"""Similarity search over embedding columns (array<float>).

Three paths per the task brief:

- :func:`brute_force_topk` — exact cosine top-k: broadcast the (small) query
  set against the candidate table, JVM-side zip_with/aggregate dot products,
  per-query rank window. Baseline + verifier.
- :func:`lsh_topk` — random-hyperplane (sign-LSH) bucketed ANN: candidates
  restricted to vectors sharing a hash bucket in ≥1 of ``num_tables`` tables.
  At 100 TB the bucket join replaces the cross product; the per-bucket
  verify is the same exact cosine.
- :func:`ivf_topk` — IVF (inverted-file) ANN: spherical k-means centroids fit
  driver-side on a bounded sample (exactly the fit-on-sample /
  assign-distributed split of ml_anomaly); every vector is assigned to its
  nearest centroid (Arrow-batched matmul), queries probe their ``n_probe``
  nearest cells, and the exact cosine runs only inside probed cells. The
  cell assignment is a partition key — at scale the index table is written
  partitioned by cell so a probe reads n_probe partitions, not the corpus.

Hyperplanes/centroids are seeded and generated driver-side (tiny), shipped as
plan literals / closure broadcast: no model server, no driver-size state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .link import cosine_sim_col


def _as_double(col):
    # native array cast (one codegen Cast) — a per-element HOF transform is
    # interpreted per element for the same result (r06, guide §4.1)
    return col.cast("array<double>")


def _norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


def _exact_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k per query over candidate ``pairs`` of (query_id,
    qe, qn, neighbor_id, e, en). Each L2 norm (qn, en) is a column projected
    once per vector upstream, not re-derived per (query, candidate) pair
    inside interpreted higher-order aggregates."""
    scored = pairs.withColumn(
        "cosine",
        F.round(
            cosine_sim_col(F.col("qe"), F.col("e"))
            / (F.col("qn") * F.col("en")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) exact top-k; queries broadcast."""
    cand = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("e")
    ).select("neighbor_id", "e", _norm(F.col("e")).alias("en"))
    qs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qe")
    ).select("query_id", "qe", _norm(F.col("qe")).alias("qn"))
    pairs = F.broadcast(qs).join(cand, F.col("neighbor_id") != F.col("query_id"))
    return _exact_topk(pairs, k)


def _hyperplanes(dim: int, bits: int, table: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed + table * 1000)
    return rng.standard_normal((bits, dim)).tolist()


def _bucket_col(vec, planes: list[list[float]]):
    """Sign-pattern bucket id for one table: bit b = sign(vec · plane_b)."""
    bits = []
    for b, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def lsh_buckets(
    vectors: DataFrame,
    dim: int,
    bits: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(id, e, en, table, bucket) — one row per (vector, table), with the
    vector's L2 norm ``en``. One scan: each vector's norm and buckets are
    projected once, then inlined into a row per table."""
    v = vectors.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("e")
    ).select("id", "e", _norm(F.col("e")).alias("en"))
    tables = F.array(*[
        F.struct(
            F.lit(t).alias("table"),
            _bucket_col(F.col("e"), _hyperplanes(dim, bits, t, seed)).alias("bucket"),
        )
        for t in range(num_tables)
    ])
    return v.select("id", "e", "en", F.inline(tables))


def fit_centroids(sample: np.ndarray, n_clusters: int, seed: int = 42,
                  iters: int = 10) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample: unit-normalize,
    seed-pick initial centers, Lloyd iterations with cosine (= dot) assignment.
    Returns (n_clusters, dim) unit centroids."""
    rng = np.random.default_rng(seed)
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    n = x.shape[0]
    k = min(n_clusters, n)
    centers = x[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ centers.T, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                norm = np.linalg.norm(m)
                if norm > 1e-12:
                    centers[c] = m / norm
    return centers


def _assign_cells(df: DataFrame, centroids: np.ndarray, vec_col: str,
                  n_probe: int) -> DataFrame:
    """Add ``cells: array<int>`` = indices of the n_probe nearest centroids
    (vectorized numpy matmul per Arrow batch; centroids are closure-broadcast,
    k×dim doubles — tiny)."""
    from pyspark.sql import types as T

    c = centroids

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ c.T
        top = np.argsort(-sims, axis=1)[:, :n_probe]
        return pd.Series(list(top.astype("int32")))

    return df.withColumn("cells", cells_of(F.col(vec_col)))


def _resolve_n_clusters(n_clusters: int | None, vectors: DataFrame,
                        approx_n: int | None = None) -> int:
    """``None`` → the IVF sizing rule k ≈ √n (cell size ≈ √n, so a probe
    costs n_probe·√n regardless of corpus growth — the right asymptote;
    FAISS guidance is the same 4√n..16√n band).

    ``approx_n`` short-circuits the sizing ``count()``: at 10^12 rows that
    count is a full scan before any work starts, and the √n rule only needs
    order-of-magnitude accuracy — pass a known row count (table metadata,
    a prior job's lineage metric, or parquet footer row counts) instead."""
    if n_clusters is not None:
        return n_clusters
    import math

    n = approx_n if approx_n is not None else vectors.count()
    return max(4, math.isqrt(max(1, n)))


def _sample_for_fit(vectors: DataFrame, vec_col: str, sample_rows: int,
                    sample_fraction: float | None, seed: int) -> list:
    """Driver-side fit sample. Default: first ``sample_rows`` rows (cheap, no
    full scan). ``sample_fraction`` applies a per-partition Bernoulli sample
    first (distributed, no shuffle); ``sample_rows`` stays as a hard driver-
    memory cap on top. NOTE the cap short-circuits on leading partitions, so
    for a truly cross-partition sample size the fraction to yield ≈
    sample_rows total (fraction ≈ sample_rows / corpus_rows) — then the cap
    never binds and every partition contributes proportionally."""
    v = vectors.select(_as_double(F.col(vec_col)))
    if sample_fraction is not None:
        v = v.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    return [np.asarray(r[0], dtype=np.float64) for r in v.limit(sample_rows).collect()]


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int | None = 64,
    n_probe: int = 8,
    sample_rows: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    approx_n: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: vectors live in their single nearest cell; queries probe
    their ``n_probe`` nearest cells; exact cosine verify inside probed cells.
    Recall rises with n_probe (n_probe = n_clusters degenerates to exact).

    Sizing at scale (defaults here are sandbox-sized): pass
    ``n_clusters=None`` for the k ≈ √n rule (cell ≈ √n rows → probe cost
    n_probe·√n, corpus-size-independent per cell); ``sample_rows`` should be
    ≳ 40·n_clusters for a stable fit, and when the leading partitions aren't
    representative (or the corpus is huge), ``sample_fraction`` draws the fit
    sample per-partition across the whole corpus with driver memory still
    bounded by sample_rows. ``approx_n`` supplies a known/approximate row
    count so ``n_clusters=None`` needs no sizing full-scan (see
    _resolve_n_clusters)."""
    n_clusters = _resolve_n_clusters(n_clusters, vectors, approx_n)
    sample_rows_data = _sample_for_fit(
        vectors, vec_col, sample_rows, sample_fraction, seed
    )
    if not sample_rows_data:
        # empty corpus → empty result with the contract schema (matches the
        # brute-force/LSH paths' behavior)
        return vectors.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    centroids = fit_centroids(np.stack(sample_rows_data), n_clusters, seed)

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("e")
    ).select("neighbor_id", "e", _norm(F.col("e")).alias("en"))
    v_cells = _assign_cells(v, centroids, "e", 1).select(
        "neighbor_id", "e", "en", F.get("cells", 0).alias("cell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qe")
    ).select("query_id", "qe", _norm(F.col("qe")).alias("qn"))
    q_cells = _assign_cells(q, centroids, "qe", n_probe).select(
        "query_id", "qe", "qn", F.explode("cells").alias("cell")
    )
    cand = (
        q_cells.join(v_cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qe", "qn", "neighbor_id", "e", "en")
    )
    return _exact_topk(cand, k)


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_clusters: int | None = 64,
    sample_rows: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    approx_n: int | None = None,
) -> np.ndarray:
    """Persist an IVF index: vectors written as parquet PARTITIONED BY their
    nearest-centroid cell, centroids saved alongside. A probe then reads
    exactly ``n_probe`` partitions (PartitionFilters at the scan — pinned by
    test_ivf_index_partition_pruning), so query cost is corpus-size-
    independent for fixed cell occupancy. Returns the centroids.

    Sizing at scale: ``n_clusters=None`` applies the k ≈ √n rule;
    ``sample_fraction`` draws the centroid-fit sample per-partition across
    the whole corpus (driver memory stays bounded by sample_rows) — see
    ivf_topk; ``approx_n`` avoids the sizing full-scan when the row count is
    already known."""
    import json
    import os

    n_clusters = _resolve_n_clusters(n_clusters, vectors, approx_n)
    sample = _sample_for_fit(vectors, vec_col, sample_rows, sample_fraction, seed)
    if not sample:
        raise ValueError("cannot build an IVF index over an empty table")
    centroids = fit_centroids(np.stack(sample), n_clusters, seed)
    v = vectors.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("e")
    )
    _assign_cells(v, centroids, "e", 1).select(
        "vec_id", "e", F.get("cells", 0).alias("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_CENTROIDS.json"), "w") as f:
        json.dump(centroids.tolist(), f)
    return centroids


def ivf_index_add(
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental add to a persisted IVF index: assign the new vectors to
    their nearest cell under the FROZEN stored centroids and APPEND
    cell-partitioned files — cost is O(new vectors), no existing file is
    touched, and queries keep pruning to n_probe partitions. This is
    standard IVF maintenance: centroids are not retrained per add (re-run
    build_ivf_index offline when the distribution shifts enough that cell
    occupancy skews — compare per-cell counts against √n). Append
    semantics: id uniqueness is the caller's contract (a dedup-by-id pass
    would scan the whole index, defeating the O(new) shape), and so is
    at-most-once delivery — a blind retry of a SUCCEEDED add double-inserts
    (guard adds with a ledger, e.g. GraphStore.mark_done keyed by the batch
    id, exactly like the streaming sinks do). A crash mid-append leaves
    only uncommitted _temporary files, which readers ignore."""
    import json
    import os

    with open(os.path.join(path, "_CENTROIDS.json")) as f:
        centroids = np.asarray(json.load(f), dtype=np.float64)
    v = new_vectors.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("e")
    )
    _assign_cells(v, centroids, "e", 1).select(
        "vec_id", "e", F.get("cells", 0).alias("cell")
    ).write.mode("append").partitionBy("cell").parquet(path)


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: assign each query to its n_probe nearest
    cells (driver-side — queries are small), scan ONLY those partitions
    (cell IN (...) prunes at the file index), exact cosine inside."""
    import json
    import os

    with open(os.path.join(path, "_CENTROIDS.json")) as f:
        centroids = np.asarray(json.load(f), dtype=np.float64)
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qe")
    ).select("query_id", "qe", _norm(F.col("qe")).alias("qn")).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qx = np.stack([np.asarray(r.qe, dtype=np.float64) for r in q_rows])
    qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
    top = np.argsort(-(qx @ centroids.T), axis=1)[:, :n_probe]
    probed = sorted({int(c) for row in top for c in row})
    q_cells = spark.createDataFrame(
        [
            (r.query_id, list(r.qe), r.qn, int(c))
            for r, cells in zip(q_rows, top)
            for c in cells
        ],
        "query_id long, qe array<double>, qn double, cell int",
    )
    index = (
        spark.read.parquet(path).filter(F.col("cell").isin(probed))
        .withColumn("en", _norm(F.col("e")))
    )
    cand = (
        q_cells.join(index, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", "qn", F.col("vec_id").alias("neighbor_id"), "e", "en")
    )
    return _exact_topk(cand, k)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: bucket-join candidate generation + exact cosine verify.
    Recall < 1 by construction; raise num_tables / lower bits for more."""
    vb = lsh_buckets(vectors, dim, bits, num_tables, id_col, vec_col)
    qb = lsh_buckets(queries, dim, bits, num_tables, id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("en").alias("qn"),
        "table",
        "bucket",
    )
    cand = (
        qb.join(vb, ["table", "bucket"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "qe", "qn", F.col("id").alias("neighbor_id"), "e", "en")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _exact_topk(cand, k)


# --- IVF-PQ (product quantization; Jégou, Douze, Schmid, TPAMI 2011) --------
#
# The honest 100 TB memory story for embedding search: 10^12 × 64-float
# vectors (~256 TB raw) cannot be scanned or cached, but m 1-byte PQ codes
# per vector (m=8 → 8 bytes, 32× smaller) can. Vectors are unit-normalized,
# coarse-assigned to an IVF cell, and the RESIDUAL (v − centroid) is encoded
# per subspace against a learned codebook; queries score candidates with
# asymmetric distance computation (ADC): one small lookup table per
# (query, subspace), approx cosine = q·centroid + Σ_m LUT_m[code_m]. Exact
# re-ranking of the approximate top-R composes via brute_force_topk over
# the original vectors of just those ids.

def fit_pq_codebooks(sample: np.ndarray, m: int, pq_k: int = 256,
                     seed: int = 42, iters: int = 12) -> np.ndarray:
    """Deterministic L2 Lloyd k-means per subspace over a (residual) sample:
    returns (m, pq_k, dim/m) codebooks. dim must be divisible by m."""
    n, dim = sample.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    k = min(pq_k, n)
    books = np.zeros((m, k, sub))
    for j in range(m):
        x = sample[:, j * sub:(j + 1) * sub]
        centers = x[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = x[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
        books[j, :k] = centers
    return books



def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    n_clusters: int | None = 64,
    m: int = 8,
    pq_k: int = 256,
    sample_rows: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
    approx_n: int | None = None,
) -> None:
    """Persist an IVF-PQ index: (vec_id, codes) rows partitioned by coarse
    cell — per-vector storage is m int16 codes (int8-packable), NOT the
    vector, so the index is ~dim·8/m× smaller than the raw corpus. Coarse
    centroids + PQ codebooks land in ``_IVFPQ.json``. Sizing knobs are the
    IVF ones (√n rule via n_clusters=None / approx_n)."""
    import json
    import os

    n_clusters = _resolve_n_clusters(n_clusters, vectors, approx_n)
    sample = _sample_for_fit(vectors, vec_col, sample_rows, sample_fraction, seed)
    if not sample:
        raise ValueError("cannot build an IVF-PQ index over an empty table")
    sx = np.stack(sample)
    sx = sx / np.maximum(np.linalg.norm(sx, axis=1, keepdims=True), 1e-12)
    centroids = fit_centroids(sx, n_clusters, seed)
    # residual sample for the codebooks: subtract each sample's own cell
    resid = sx - centroids[np.argmax(sx @ centroids.T, axis=1)]
    books = fit_pq_codebooks(resid, m, pq_k, seed)

    c = centroids
    n_sub = books.shape[2]

    # ONE batch pass per row: normalize → coarse argmax → residual → codes.
    # (Two chained UDFs would normalize + matmul the whole corpus twice,
    # and an argsort/argmax disagreement on an exact similarity tie could
    # encode a residual against a different cell than the stored one.)
    @F.pandas_udf("struct<cell: int, codes: array<smallint>>")
    def cell_and_codes(vecs: pd.Series) -> pd.DataFrame:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell = np.argmax(x @ c.T, axis=1)
        resid = x - c[cell]
        codes = np.empty((len(x), m), dtype=np.int16)
        for j in range(m):
            rs = resid[:, j * n_sub:(j + 1) * n_sub]
            d2 = ((rs[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = np.argmin(d2, axis=1).astype(np.int16)
        return pd.DataFrame({"cell": cell.astype("int32"),
                             "codes": list(codes)})

    v = vectors.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("e")
    )
    v.select("vec_id", cell_and_codes(F.col("e")).alias("cc")).select(
        "vec_id", F.col("cc.cell").alias("cell"), F.col("cc.codes").alias("codes")
    ).write.mode("overwrite").partitionBy("cell").parquet(path)
    with open(os.path.join(path, "_IVFPQ.json"), "w") as f:
        json.dump({"centroids": centroids.tolist(),
                   "codebooks": books.tolist(), "m": m}, f)


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC query over a persisted IVF-PQ index: probe n_probe cells per
    query (partition-pruned scan of CODES only — the original vectors are
    never read), approx_cosine = q·centroid + Σ_m LUT_m[code_m]. Returns
    (query_id, neighbor_id, approx_cosine, rank); compose with
    brute_force_topk over the top-R ids for exact re-ranking.

    Query-dimension bound (probe-batch contract): the query set is
    collected to ONE dense (n_q, dim) float64 matrix on the driver and
    shipped to executors as a single BROADCAST (one transfer per executor,
    NOT per task — the r04 form captured per-query LUT/base dicts in the
    task closure, serialized with every task). Per-(query, cell) lookup
    tables are built inside the scorer from the broadcast (q, codebook)
    pair, only for the qids present in each Arrow batch (m matvecs each —
    trivial next to the code scan). Memory is O(n_q·dim) on the driver and
    per executor: fine for probe batches up to ~10^6 queries at typical
    dims; for a query TABLE beyond that, chunk the table and call this per
    chunk (each chunk prunes its own cell set)."""
    import json
    import os

    from pyspark.sql import types as T

    with open(os.path.join(path, "_IVFPQ.json")) as f:
        meta = json.load(f)
    centroids = np.asarray(meta["centroids"])
    books = np.asarray(meta["codebooks"])
    m = meta["m"]
    sub = books.shape[2]

    q_rows = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qe")
    ).collect()
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, approx_cosine double, rank int"
        )
    qx = np.stack([np.asarray(r.qe, dtype=np.float64) for r in q_rows])
    qx = qx / np.maximum(np.linalg.norm(qx, axis=1, keepdims=True), 1e-12)
    top = np.argsort(-(qx @ centroids.T), axis=1)[:, :n_probe]
    probed = sorted({int(c) for row in top for c in row})
    q_cells = spark.createDataFrame(
        [(int(r.query_id), int(c)) for r, cells in zip(q_rows, top) for c in cells],
        "query_id long, cell int",
    )
    codes = spark.read.parquet(path).filter(F.col("cell").isin(probed))
    joined = q_cells.join(codes, "cell")

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("approx_cosine", T.DoubleType()),
    ])

    qid_to_row = {int(r.query_id): i for i, r in enumerate(q_rows)}
    bc = spark.sparkContext.broadcast(
        {"qx": qx, "qid_to_row": qid_to_row, "books": books,
         "centroids": centroids}
    )

    def score(batches):
        b = bc.value
        bqx, brow = b["qx"], b["qid_to_row"]
        bbooks, bcents = b["books"], b["centroids"]
        mi = np.arange(m)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qids = pdf["query_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            s = np.empty(len(pdf))
            for qid in np.unique(qids):
                mask = qids == qid
                i = brow[int(qid)]
                # LUT[j, c] = q_sub_j · codebook[j][c]; built per batch per
                # qid present — m (sub,)@(sub, pq_k) matvecs, ~µs
                lut = np.stack([
                    bqx[i, j * sub:(j + 1) * sub] @ bbooks[j].T
                    for j in range(m)
                ])
                base = bqx[i] @ bcents.T
                s[mask] = base[cells[mask]] + lut[mi, cm[mask]].sum(axis=1)
            yield pd.DataFrame({
                "query_id": qids,
                "neighbor_id": pdf["vec_id"].to_numpy(),
                "approx_cosine": np.round(s, 6),
            })

    scored = joined.mapInPandas(score, schema=out_schema).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), "neighbor_id"
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
