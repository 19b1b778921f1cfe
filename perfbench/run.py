"""spark-kg benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload kg_lifecycle --seed 1 --seconds 10 --trace 0

Workloads (see README.md for what each measures and predicts):

  kg_lifecycle   bulk pipeline.run, the same call re-issued (resume), then
                 a closed loop of retrieval calls
  operator_pack  the bench.py HEADLINE query-pack leaves into the noop sink

Each run starts one Spark session on local[<cores>], makes its inputs from
the seed (cached under .perfbench/cache), warms up with checks against the
oracles, measures, checks again, and deletes its warehouses. The last stdout
line is ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``; with ``--trace 1`` the per-phase layer stats, and
the per-module layer stats go to .perfbench/traces/<workload>-seed<n>.json.

``--workload all`` runs both workloads, each in its own process, and prints
their detailed metrics by name.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

# common records the start of set-up when this import first runs
from common import HERE, REPO, WORK, Context, T_START, log

WORKLOADS = ("kg_lifecycle", "operator_pack")
PHASES = ("setup", "timed")


def run_one(args) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    # Fail fast, before any Spark start, when the program is not there.
    import knowledge_graph_rag_spark  # noqa: F401

    import kg
    import pack

    workload = {"kg_lifecycle": kg, "operator_pack": pack}[args.workload]
    ctx = Context(args)
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            # the inputs are made while the JVM starts
            prepared = pool.submit(workload.prepare, ctx)
            ctx.start_spark(workload.SPARK_CONF)
            prep = prepared.result()
        tracer = ctx.tracer
        if tracer.enabled:
            workload.instrument(ctx)
        with tracer.span("setup"):
            state = workload.setup(ctx, prep)
        # set-up's CPU time: all of this process's and of the JVM's with
        # its workers, which started during set-up (see README.md)
        setup_s = ctx.cpu_s()
        setup_wall_s = time.perf_counter() - T_START
        log(f"setup done in {setup_wall_s:.1f}s, {setup_s:.1f} CPU-s")
        ctx.reset_peaks()
        detail = workload.measure(ctx, state)
        detail.update(ctx.peak_mem_mb())
        workload.verify(ctx, state)
        detail["setup_s"] = setup_s
        detail["setup_wall_s"] = setup_wall_s
        detail["error_rate"] = ctx.failed / max(ctx.attempted, 1)
        ctx.close()
        if ctx.trace:
            metrics = traced_metrics(ctx, args, detail)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "batch_cpu_s": (detail["batch_cpu_s"], "s"),
                "peak_mem_mb": (detail["peak_mem_mb"], "MB"),
            }
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "detail": detail, "errors": ctx.errors}))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if ctx.failed == 0 else 1
    finally:
        ctx.close()
        shutil.rmtree(ctx.tmp, ignore_errors=True)


_UNITS = {"wall_s": "s", "self_s": "s", "task_cpu_s": "s", "driver_s": "s",
          "shuffle_bytes": "B", "spill_bytes": "B", "python_bytes": "B",
          "jobs": "count", "stages": "count", "files_written": "count",
          "tasks_empty_ratio": "ratio", "task_max_over_p50": "ratio"}


def traced_metrics(ctx, args, detail) -> dict:
    """Per-phase stats for the result line; per-module stats to a file."""
    import spans as S

    events = S.read_event_log(os.path.join(ctx.tmp, "events"))
    tracer = ctx.tracer
    roots = {}
    for sp in tracer.spans:
        if sp.parent is None:
            roots.setdefault(sp.layer, []).append(sp)
    phases = {p: S.subtree_stats(tracer.spans, events, rs) for p, rs in roots.items()}
    layers = S.layer_stats(
        [sp for sp in tracer.spans if sp.parent is not None], events
    )
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": ctx.cores,
        "detail": detail,
        "phases": phases,
        "layers": layers,
        "unattributed_jobs": S.unattributed_jobs(events, tracer.spans),
    }
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    log(f"per-layer stats written to {path}")
    return {
        f"{phase}.{stat}": (value, _UNITS[stat])
        for phase in PHASES for stat, value in phases[phase].items()
    }


def run_all(args) -> int:
    """Both workloads, each in its own process; print every detail metric."""
    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        rc = rc or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if len(lines) < 2:
            print(f"{w}: no result (exit {proc.returncode})")
            continue
        detail = json.loads(lines[-2])["detail"]
        gated = json.loads(lines[-1])["metrics"]
        for name in sorted(detail):
            mark = "  (gated)" if name in gated else ""
            print(f"{w:14s} {name:30s} {detail[name]:12.6g} {_detail_unit(name)}{mark}")
    return rc


def _detail_unit(name: str) -> str:
    for suffix, unit in (("_per_s", "docs/s"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "ratio" if name == "error_rate" else "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
