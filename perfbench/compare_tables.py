"""Compare operator_pack's stand-in tables with a reference table directory.

    python3 perfbench/compare_tables.py <reference_sf_dir> [passes]

The benchmark reads nothing outside its checkout, so ``operator_pack`` runs on
tables that ``tables.py`` renders (seed 42, the sf0.1 shape). This script
shows how closely they stand in for the reference tables: in one Spark
session with ``operator_pack``'s settings, it runs every ``bench.HEADLINE``
leaf on both table sets, a warm-up pass and then ``passes`` traced passes
(default 4) that alternate between the two sets leaf by leaf, each set going
first in every other pass. It prints, per leaf and per side, the mean wall
time, jobs, shuffle bytes and task CPU of a pass, and the number of result
rows, as a markdown table.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import Context, log  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("reference")
    ap.add_argument("passes", nargs="?", type=int, default=4)
    args = ap.parse_args()
    ref = os.path.abspath(args.reference)

    import pack
    import spans as S
    from bench import HEADLINE
    from knowledge_graph_rag_spark.plans import driver_queries as DQ

    ctx = Context(argparse.Namespace(seed=0, seconds=0, trace=1))
    try:
        spark = ctx.start_spark(pack.SPARK_CONF)
        sides = {"reference": ref, "stand-in": pack._tables(ctx, pack.SCALE)}
        queries = DQ.extended_queries()
        rows = {}
        for side, sf_dir in sides.items():
            t0 = time.perf_counter()
            for name in HEADLINE:
                rows[side, name] = len(queries[name](spark, sf_dir).collect())
            log(f"{side} warm-up pass {time.perf_counter() - t0:.1f}s")
        tr = ctx.tracer
        for k in range(args.passes):
            for i, name in enumerate(HEADLINE):
                # each side goes first in every other pass, so neither gains
                # from running right after the other
                for side, sf_dir in list(sides.items())[::(-1) ** (k + i)]:
                    with tr.span(f"{side}.{name}"):
                        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        ctx.close()
        stats = S.layer_stats(tr.spans, S.read_event_log(os.path.join(ctx.tmp, "events")))
    finally:
        ctx.close()
        shutil.rmtree(ctx.tmp, ignore_errors=True)

    n = args.passes
    cols = ("wall s", "jobs", "shuffle bytes", "task CPU s", "rows")
    print("| leaf | " + " | ".join(f"{c} ({s})" for c in cols for s in ("ref", "stand-in")) + " |")
    print("|---" * (1 + 2 * len(cols)) + "|")
    totals = {side: 0.0 for side in sides}
    for name in HEADLINE:
        st = {side: stats[f"{side}.{name}"] for side in sides}
        for side in sides:
            totals[side] += st[side]["self_s"] / n
        cells = []
        for key, fmt in (("self_s", "{:.2f}"), ("jobs", "{:.0f}"), ("shuffle_bytes", "{:.0f}"),
                         ("task_cpu_s", "{:.2f}")):
            cells += [fmt.format(st[side][key] / n) for side in sides]
        cells += [str(rows[side, name]) for side in sides]
        print(f"| `{name}` | " + " | ".join(cells) + " |")
    print(f"| **pass** | {totals['reference']:.2f} | {totals['stand-in']:.2f} |"
          + " |" * (2 * len(cols) - 2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
