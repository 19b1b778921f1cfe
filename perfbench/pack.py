"""operator_pack: warm passes over the bench.py HEADLINE query-pack leaves.

The timed leaves read fixed tables rendered by ``tables.py`` (seed 42, the
sf0.1 shape) and write to the noop sink. The run's seed only permutes leaf
order. Setup checks every leaf against its ``oracle_sql`` on DuckDB with the
``tools/check_oracles.py`` hash helpers, on a tenth-size rendering of the
same tables (sf0.01); that pass is also the warm-up. The DuckDB side is a
pure function of the fixed tables and the oracle text, so it is computed
once per checkout and cached with the tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target

from common import call_latency, log

DATA_SEED = 42
SCALE = 0.1        # the timed passes
CHECK_SCALE = 0.01  # the checked warm-up pass
# the split sizes bench.py runs these leaves with: the sf0.1 text tables are
# small but CPU-dense per byte
SPARK_CONF = {
    "spark.sql.files.maxPartitionBytes": str(512 * 1024),
    "spark.sql.files.openCostInBytes": str(64 * 1024),
}


def _tables(ctx, scale: float) -> str:
    import tables

    with open(tables.__file__, "rb") as f:  # a changed generator renders anew
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(ctx.cache, f"pack-seed{DATA_SEED}-sf{scale}-{version}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        tables.write(tmp, DATA_SEED, scale)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def _fingerprint(rows: list[tuple], cols: list[str]) -> dict:
    """What ``tools/check_oracles.py`` compares: row count, column names,
    numeric kind per column and the order-insensitive value hash."""
    from tools.check_oracles import col_kinds, value_hash

    return {"rows": len(rows), "cols": sorted(cols), "kinds": col_kinds(rows, cols),
            "hash": value_hash(rows, cols)}


def _matches(got: dict, want: dict) -> bool:
    kinds_ok = all(
        got["kinds"][c] == want["kinds"].get(c) or "-" in (got["kinds"][c], want["kinds"].get(c))
        for c in got["kinds"]
    )
    return (got["rows"], got["cols"], got["hash"]) == (want["rows"], want["cols"],
                                                        want["hash"]) and kinds_ok


def _oracle_fingerprints(sf_dir: str, oracles: dict[str, str], names: list[str]) -> dict:
    """DuckDB oracle fingerprints of ``names``. The tables are fixed, so they
    are computed once per oracle text and cached next to the tables."""
    import duckdb

    key = hashlib.sha256("\n".join(oracles[n] for n in sorted(names)).encode()).hexdigest()
    path = os.path.join(sf_dir, f"oracle-{key[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = _fingerprint(rel.fetchall(), rel.columns)
    finally:
        con.close()
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, path)
    return out


def prepare(ctx) -> dict:
    """The tables and their oracle results, made without Spark while the
    session starts (cached after the first run in a checkout)."""
    from bench import HEADLINE
    from knowledge_graph_rag_spark.plans import driver_queries as DQ

    sf_dir = _tables(ctx, SCALE)
    check_dir = _tables(ctx, CHECK_SCALE)
    want = _oracle_fingerprints(check_dir, DQ.extended_oracle_sql(), list(HEADLINE))
    log(f"tables and oracle results ready in {ctx.cache}")
    return {"sf_dir": sf_dir, "check_dir": check_dir, "want": want}


def setup(ctx, prep: dict) -> dict:
    from bench import HEADLINE
    from knowledge_graph_rag_spark.plans import driver_queries as DQ

    check_dir, want = prep["check_dir"], prep["want"]
    queries = DQ.extended_queries()
    leaves = list(HEADLINE)
    random.Random(ctx.seed).shuffle(leaves)

    @inheritable_thread_target  # keeps the set-up span's job group in traced runs
    def spark_fingerprint(name: str) -> dict:
        sdf = queries[name](ctx.spark, check_dir)
        return _fingerprint([tuple(r) for r in sdf.collect()], sdf.columns)

    # The warm-up pass is untimed and mostly driver-side planning and code
    # generation (the same plans as the timed passes, on smaller tables),
    # so it runs one leaf per core at a time.
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        for name, got in zip(leaves, pool.map(spark_fingerprint, leaves)):
            ctx.check(_matches(got, want[name]),
                      f"{name}: Spark result differs from its DuckDB oracle")
    return {"sf_dir": prep["sf_dir"], "leaves": leaves, "queries": queries}


def instrument(ctx) -> None:
    """Leaves are spanned in ``measure``; nothing to wrap."""


def measure(ctx, state) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    sf_dir, leaves, queries = state["sf_dir"], state["leaves"], state["queries"]

    def one_pass() -> float:
        t_pass = time.perf_counter()
        for name in leaves:
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span(f"pack.{name}"):
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            lat[name].append(time.perf_counter() - t0)
            cpu[name].append(ctx.cpu_s() - c0)
            ctx.attempted += 1
        return time.perf_counter() - t_pass

    lat: dict[str, list[float]] = {name: [] for name in leaves}
    cpu: dict[str, list[float]] = {name: [] for name in leaves}
    ctx.settle()
    with tr.span("timed"):
        deadline = time.perf_counter() + ctx.seconds
        passes = [one_pass()]
        while time.perf_counter() < deadline:
            passes.append(one_pass())
    detail = {
        "batch_cpu_s": sum(map(sum, cpu.values())) / len(passes),
        "pack_s": statistics.median(passes),
        "batch_s": statistics.median(passes),
        "passes": len(passes),
        **call_latency(lat, cpu),
    }
    for name, xs in lat.items():
        detail[f"{name}_ms"] = statistics.median(xs) * 1000
    log(f"{len(passes)} passes, median {detail['pack_s']:.1f}s")
    return detail


def verify(ctx, state) -> None:
    """The leaves were checked against their oracles during setup."""
