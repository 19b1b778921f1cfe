"""Per-query measurement harness — NOT the driver bench.

Times any subset of the headline queries with the noop sink, records
best-of-N + spread, and optionally dumps .explain("formatted") to
plans/r06/<query>_<tag>.txt. bench.py stays frozen (driver contract); this
file exists so optimization work can cite per-query evidence without touching
the measured harness.

Runs are pass-major: each pass runs every named query once, as a served
query pack does, so a query's second run sees whatever the rest of the pass
left in the JVM's caches. Next to each run's wall time it records the
generated-code layer: how many classes Janino compiled during the run
(``CodegenMetrics`` compilation count) and the compile time they took
(``CodeGenerator.compileTime``). A warm pass whose classes all fit the
generated-code cache compiles nothing.

Usage:
  python bench_extra.py [--sf DIR] [--repeats N] [--plans TAG] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402
from knowledge_graph_rag_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=3, help="passes")
    ap.add_argument("--plans", default=None,
                    help="dump explain('formatted') to plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--kg", action="store_true", help="also time kg extraction")
    args = ap.parse_args()
    names = args.queries or HEADLINE

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.operators import extract as X
    from knowledge_graph_rag_spark.plans import driver_queries as DQ

    spark = get_spark(
        app_name="kgrs-bench-extra",
        cores=os.environ.get("SPARK_GRAFT_CPUS", "32"),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(512 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = DQ.extended_queries()
    for t in ("events", "documents", "embeddings", "lineitem", "orders",
              "customer", "nation"):
        spark.read.parquet(f"{args.sf}/{t}.parquet").count()

    if args.plans:
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(txt)

    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    out: dict[str, dict] = {
        name: {"runs": [], "compiles": [], "compile_ms": []} for name in names
    }
    for _ in range(args.repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            n0, ns0 = compiles.getCount(), codegen.compileTime()
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            rec = out[name]
            rec["runs"].append(round(time.time() - t0, 3))
            rec["compiles"].append(compiles.getCount() - n0)
            rec["compile_ms"].append(round((codegen.compileTime() - ns0) / 1e6, 1))
    for rec in out.values():
        runs = rec["runs"]
        rec["best"] = min(runs)
        rec["spread"] = round(max(runs) - min(runs), 3)

    if args.kg:
        n_docs = spark.read.parquet(f"{args.sf}/documents.parquet").count() * 4
        corpus = f"/tmp/kgrs_bench_corpus_{n_docs}.parquet"
        if not os.path.exists(corpus + "/_SUCCESS"):
            synth.documents_df(spark, n_docs).write.mode("overwrite").parquet(corpus)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(96 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(8 * 1024))
        docs = spark.read.parquet(corpus)
        X.extract_triples(spark, docs.limit(2048)).count()
        runs = []
        for _ in range(args.repeats):
            t0 = time.time()
            X.extract_triples(spark, docs).count()
            runs.append(round(time.time() - t0, 3))
        out["kg_extract_triples"] = {
            "best": min(runs), "spread": round(max(runs) - min(runs), 3),
            "runs": runs, "docs": n_docs,
            "docs_per_sec": round(n_docs / min(runs), 1),
        }

    pass_compiles = [sum(out[n]["compiles"][i] for n in names)
                     for i in range(args.repeats)]
    print(json.dumps({"sf": args.sf, "queries": out,
                      "total_best": round(sum(v["best"] for v in out.values()), 3),
                      "pass_compiles": pass_compiles}))
    spark.stop()


if __name__ == "__main__":
    main()
