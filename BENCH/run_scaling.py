"""Pinned-core scaling harness: each workload at N and 4N CPUs.

The levels come from this process's CPU affinity: N = max(1, cpus // 4),
pinned to the first N and the first 4N CPUs of the set (1 vs 4 on a 4-CPU
host, 2 vs 8 on an 8-CPU one). Each level is one cold
``spark-submit --master local[k] --py-files kgrs.zip scale_child.py`` launch
under ``taskset``, from a temp dir outside the repo, so the package comes
only from the zip. Efficiency is (T_N / T_4N) / 4 over the best of 3 timed
runs in one JVM; each level also reports its fixed-cost floor, the same job
at 1/100 of the size. A child whose affinity is not its level, or whose
checksum differs between the levels, is refused.

Usage: python BENCH/run_scaling.py [--workload {extract,curation,graph,all}] [size]
Writes the workload's section of BENCH/scaling_results.json and renders
BENCH/BASELINE.md from that file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RESULTS = os.path.join(REPO, "BENCH", "scaling_results.json")
# default size per workload: large enough that per-row cost dominates the
# fixed cost at N; the unit is what the size counts
SIZES = {"extract": (200_000, "docs"), "curation": (300_000, "docs"),
         "graph": (3_000_000, "edges")}


def levels(cpus) -> tuple[list[int], list[int]]:
    """The N and 4N CPU lists drawn from an affinity set."""
    ordered = sorted(cpus)
    n = max(1, len(ordered) // 4)
    if 4 * n > len(ordered):
        raise ValueError(f"an N vs 4N pair needs at least 4 CPUs, affinity has {len(ordered)}")
    return ordered[:n], ordered[:4 * n]


def efficiency(t_n: float, t_4n: float) -> float:
    """Scaling efficiency from N to 4N: the speedup over the ideal 4×."""
    return round(t_n / t_4n / 4, 3)


def check(lo: dict, hi: dict, lo_cpus: list[int], hi_cpus: list[int]) -> None:
    """Refuse a level that ran under another affinity, or checksums that
    differ between the levels."""
    for r, cpus in ((lo, lo_cpus), (hi, hi_cpus)):
        if r["affinity"] != len(cpus):
            raise RuntimeError(f"{r['workload']}: child ran on {r['affinity']} CPUs, "
                               f"its level is {len(cpus)}")
    for name, job in lo["jobs"].items():
        if job["checksum"] != hi["jobs"][name]["checksum"]:
            raise RuntimeError(f"{name}: checksum {job['checksum']} at N, "
                               f"{hi['jobs'][name]['checksum']} at 4N")


def summarize(lo: dict, hi: dict) -> dict:
    return {name: {"efficiency": efficiency(job["best"], hi["jobs"][name]["best"]),
                   "floor_efficiency": efficiency(job["floor_best"],
                                                  hi["jobs"][name]["floor_best"])}
            for name, job in lo["jobs"].items()}


def run_level(cpus: list[int], workload: str, size: int, tmp: str) -> dict:
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), "spark-submit",
           "--master", f"local[{len(cpus)}]",
           # get_spark's heap: the driver JVM starts before get_spark runs
           "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
           "--py-files", os.path.join(tmp, "kgrs.zip"),
           os.path.join(tmp, "scale_child.py"), workload, str(size), os.path.join(tmp, "data")]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp)
    if out.returncode:
        raise RuntimeError(f"{workload} at {len(cpus)} CPUs failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def render(results: dict) -> str:
    md = ["""# BENCH/BASELINE — N vs 4N scaling on pinned CPUs

`python BENCH/run_scaling.py --workload all` writes BENCH/scaling_results.json
and renders this file from it. N and 4N come from the launcher's CPU
affinity (N = max(1, cpus // 4)). Each level is one cold
`spark-submit --py-files kgrs.zip` launch under `taskset`, with the
program's `get_spark` session. Times are the best of 3 runs after a warm-up
in that JVM, every run listed. The floor is the same job at 1/100 of the
size in the same JVM: the cost that does not grow with the input.
Efficiency = (T_N / T_4N) / 4; the north rule asks for ≥ 0.8.
"""]
    for workload in (w for w in SIZES if w in results):
        sec = results[workload]
        lo, hi = sec["N"], sec["4N"]
        md.append(f"## {workload}: {sec['size']:,} {sec['unit']}, "
                  f"{len(sec['cpus'][0])} vs {len(sec['cpus'][1])} CPUs\n")
        md.append("| job | N best s (runs) | 4N best s (runs) | efficiency "
                  "| floor N / 4N s | floor efficiency |\n|---|---|---|---|---|---|")
        for name, s in sec["efficiency"].items():
            a, b = lo["jobs"][name], hi["jobs"][name]
            md.append(f"| {name} | {a['best']} ({', '.join(map(str, a['runs']))}) "
                      f"| {b['best']} ({', '.join(map(str, b['runs']))}) "
                      f"| **{s['efficiency']}** | {a['floor_best']} / {b['floor_best']} "
                      f"| {s['floor_efficiency']} |")
        md.append("\nChecksums, identical at both levels: " + "; ".join(
            f"{name} {job['checksum']}" for name, job in lo["jobs"].items()) + "\n")
    return "\n".join(md)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[*SIZES, "all"], default="extract")
    ap.add_argument("size", type=int, nargs="?",
                    help="docs or edges; default per workload (not with --workload all)")
    args = ap.parse_args()
    if args.workload == "all" and args.size is not None:
        ap.error("a size applies to one workload")
    for tool in ("taskset", "spark-submit"):
        if shutil.which(tool) is None:
            sys.exit(f"{tool} not found: the harness measures only pinned spark-submit launches")
    lo_cpus, hi_cpus = levels(os.sched_getaffinity(0))
    sys.path.insert(0, REPO)
    from jobs.make_pyfiles import build

    results = {}
    if os.path.exists(RESULTS):
        with open(RESULTS) as f:
            results = json.load(f)
    with tempfile.TemporaryDirectory(prefix="kgrs_scale_") as tmp:
        build(os.path.join(tmp, "kgrs.zip"))
        shutil.copy(os.path.join(REPO, "BENCH", "scale_child.py"), tmp)
        for workload in SIZES if args.workload == "all" else [args.workload]:
            size = args.size or SIZES[workload][0]
            lo = run_level(lo_cpus, workload, size, tmp)
            hi = run_level(hi_cpus, workload, size, tmp)
            check(lo, hi, lo_cpus, hi_cpus)
            results[workload] = {"size": size, "unit": SIZES[workload][1],
                                 "cpus": [lo_cpus, hi_cpus], "N": lo, "4N": hi,
                                 "efficiency": summarize(lo, hi)}
            print(json.dumps({workload: results[workload]["efficiency"]}), flush=True)
            with open(RESULTS, "w") as f:
                json.dump(results, f, indent=2)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(render(results))


if __name__ == "__main__":
    main()
