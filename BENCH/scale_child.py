"""One level of the pinned-core scaling harness (BENCH/run_scaling.py).

Launched as ``spark-submit --master local[k] --py-files kgrs.zip
scale_child.py <workload> <size> <data_dir>`` under ``taskset``; the package
comes from the zip only, so this script must not put the repo on sys.path.

Each workload builds its input once, untimed, and returns its timed jobs;
every job returns a checksum that must not depend on the level. The child
warms up on the 1/100-size input, times it 3 times (the fixed-cost floor),
then times the full input 3 times, all in this one JVM. It prints one JSON
line: the CPU affinity it ran under, every run, and each job's checksum.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from knowledge_graph_rag_spark import synth
from knowledge_graph_rag_spark.operators import dedup as DD
from knowledge_graph_rag_spark.operators import extract as X
from knowledge_graph_rag_spark.operators.graphalgs import local_clustering
from knowledge_graph_rag_spark.plans.datapipe import _near_dup_drop_ids
from knowledge_graph_rag_spark.session import get_spark

RUNS = 3


def _parquet(spark, path, make):
    """``make()`` written to ``path`` once, and read by both levels. It is
    written as one file per shuffle partition: written as it comes, the N
    level's input is N files that the 4N level's scan cannot split."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        files = int(spark.conf.get("spark.sql.shuffle.partitions"))
        make().repartition(files).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def extract(spark, n_docs, data_dir):
    """KG triple extraction: parquet scan → spans → mentions/triples →
    alias resolution → distinct. One shuffle; the dictionary joins
    broadcast."""
    docs = _parquet(spark, f"{data_dir}/extract_{n_docs}",
                    lambda: synth.documents_df(spark, n_docs))
    return {"extract": lambda: {"triples": X.extract_triples(spark, docs).count()}}


def curation(spark, n_docs, data_dir):
    """Curation dedup: exact dedup (one row_number shuffle), then the
    MinHash-LSH near-dup drop (shingles → banding join → connected
    components → anti-join).

    The corpus is 30-word docs whose text is a function of the row index
    alone. Planted pairs at a constant rate keep the LSH pair count linear in
    ``n_docs``: index ≡ 7 (mod 10) is a near-dup of its predecessor (one
    extra word, Jaccard ≈ 0.93), index ≡ 3 (mod 17) an exact copy. A near
    slot mirrors its predecessor's resolved text, an exact slot copies its
    predecessor's, and a copied near-dup carries its mark."""
    idx = F.col("id")
    near = idx % 10 == 7
    j = F.when(near, idx - 1).otherwise(idx)
    ej = F.when((j % 17 == 3) & (j % 10 != 7), j - 1).otherwise(j)
    base = F.when(ej % 10 == 7, ej - 1).otherwise(ej)
    # the generation tag keeps docs 5000 apart from repeating one word wheel
    words = F.transform(
        F.sequence(F.lit(0), F.lit(29)),
        lambda k: F.concat(
            F.lit("w"), ((base * 31 + k * 7) % 5000).cast("string"),
            F.lit("x"), (k % 11).cast("string"),
            F.lit("g"), F.floor(base / 5000).cast("string"),
        ),
    )
    text = F.concat_ws(" ", words)
    text = F.when(near | (ej % 10 == 7),
                  F.concat(text, F.lit(" neardupmark"))).otherwise(text)
    docs = _parquet(spark, f"{data_dir}/curation_{n_docs}", lambda: spark.range(n_docs).select(
        F.concat(F.lit("d"), idx.cast("string")).alias("doc_id"), text.alias("text")))

    def job():
        exact = DD.dedup_exact(docs, "doc_id", "text")
        drops = _near_dup_drop_ids(exact, 0.2, "minhash")
        return {"survivors": exact.join(drops, "doc_id", "left_anti").count()}

    return {"curation": job}


def graph(spark, n_edges, data_dir):
    """Per-node clustering coefficients (canonicalize → degrees → orient →
    wedge join → closing join → attribution) over an xxhash random graph of
    average degree ~16, plus two host-ceiling probes over the same edges:
    one hash shuffle and one shuffled self-join. The clustering efficiency
    is read against what a single shuffle scales to on this host."""
    n_nodes = max(1, n_edges // 8)
    edges = _parquet(spark, f"{data_dir}/graph_{n_edges}", lambda: spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("src"),
        F.pmod(F.xxhash64(F.col("id") + 1_000_000_007), F.lit(n_nodes)).alias("dst")))

    return {
        "clustering": lambda: local_clustering(edges).agg(
            F.count("*").alias("nodes"), F.sum("degree").alias("deg_sum"),
            F.sum("triangles").alias("tri_sum"),
            F.round(F.sum("coeff"), 4).alias("coeff_sum"),
        ).first().asDict(),
        "shuffle_ceiling": lambda: {"rows": edges.groupBy("src").count()
                                    .agg(F.sum("count")).first()[0]},
        "join_ceiling": lambda: {"rows": edges.alias("a").join(edges.alias("b"), "src")
                                 .agg(F.count("*")).first()[0]},
    }


WORKLOADS = {"extract": extract, "curation": curation, "graph": graph}

# The extraction corpus is compressed text whose per-row regex work is the
# cost: split it below its file size, so each core runs ~10 waves and the
# last wave's stragglers stay short. The other inputs shuffle first.
EXTRA_CONF = {"extract": {"spark.sql.files.maxPartitionBytes": str(768 * 1024),
                          "spark.sql.files.openCostInBytes": str(64 * 1024)}}


def timed(jobs) -> dict:
    """``RUNS`` timed calls of every job; its checksum must not change."""
    out = {}
    for name, job in jobs.items():
        runs, checksums = [], []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            checksums.append(job())
            runs.append(round(time.perf_counter() - t0, 3))
        if any(c != checksums[0] for c in checksums):
            raise RuntimeError(f"{name}: checksum changed between runs: {checksums}")
        out[name] = {"best": min(runs), "runs": runs, "checksum": checksums[0]}
    return out


def main() -> None:
    workload, size, data_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    affinity = len(os.sched_getaffinity(0))
    spark = get_spark(app_name=f"kgrs-scale-{workload}-{affinity}", cores=affinity,
                      extra_conf=EXTRA_CONF.get(workload))
    build = WORKLOADS[workload]
    small, full = build(spark, max(1, size // 100), data_dir), build(spark, size, data_dir)
    for job in small.values():  # warm-up: JIT, Python workers, broadcasts
        job()
    floor, result = timed(small), timed(full)
    for name, r in result.items():
        r["floor_best"], r["floor_runs"] = floor[name]["best"], floor[name]["runs"]
    print(json.dumps({"workload": workload, "size": size, "affinity": affinity,
                      "jobs": result}))
    spark.stop()


if __name__ == "__main__":
    main()
