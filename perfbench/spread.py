#!/usr/bin/env python3
"""Run-to-run spread of the benchmark: run it once per seed on each workload
and print, per end-to-end metric, the median and the distance between the
first and third quartile as a share of the median, against the metric's
bound in BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workloads crawl_mixed,...]
                                [--traced] [--out summary.json]

``--traced`` adds one ``--trace 1`` run per workload, on the first seed, and
keeps its per-layer metrics in the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def iqr_share(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def run(spec: dict, workload: str, seed: int, trace: int) -> tuple[float, dict]:
    """(wall seconds, result line) of one benchmark run."""
    t0 = time.perf_counter()
    out = subprocess.run(
        [*spec["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False)
    return (time.perf_counter() - t0,
            json.loads(out.stdout.strip().splitlines()[-1]))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary: dict = {"run_seconds": spec["run_seconds"],
                     "date": time.strftime("%Y-%m-%d", time.gmtime())}
    for w in args.workloads.split(","):
        runs = []
        seeds = parse_seeds(args.seeds)
        for seed in seeds:
            wall, res = run(spec, w, seed, trace=0)
            runs.append({"seed": seed, "wall_s": wall, **res})
            print(f"{w} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, _, q3 = statistics.quantiles(vals, n=4)
            rows[name] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                          "iqr_share": iqr_share(vals), "bound": bounds[name],
                          "values": vals}
            print(f"  {name:<14} median={rows[name]['median']:.4g} "
                  f"iqr/median={rows[name]['iqr_share']:.3f} "
                  f"bound={bounds[name]}", flush=True)
        with open(os.path.join(ROOT, ".perfbench_cache", "results",
                               f"{w}_seed{seeds[-1]}_trace0.json")) as f:
            last = json.load(f)
        summary["host"] = {k: last[k] for k in
                           ("cores", "mem_gib", "driver_mem", "pyspark", "java")}
        summary[w] = {"metrics": rows,
                      "all_correct": all(r["correct"] for r in runs),
                      "run_wall_s": [r["wall_s"] for r in runs]}
        if args.traced:
            wall, res = run(spec, w, seeds[0], trace=1)
            summary[w]["traced"] = {"seed": seeds[0], "wall_s": wall,
                                    "correct": res["correct"],
                                    "per_layer": {k: v["value"] for k, v
                                                  in res["metrics"].items()}}
            print(f"{w} traced seed={seeds[0]} wall={wall:.1f}s "
                  f"correct={res['correct']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
