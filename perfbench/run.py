#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one Spark driver process.

    python3 perfbench/run.py --workload crawl_mixed --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, in turn

Run it from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it name every end-to-end metric of the
workload with its unit, median, tail percentile and sample count. Everything
the run writes stays under ``.perfbench_cache/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = ("crawl_mixed", "substring_search")
# a run must end within 180 s; no round starts that would end after this
DEADLINE_S = 140.0
# share of physical memory given to the driver JVM heap (local mode runs
# every task inside it); plans.session's own 24g default is sized for a
# 32-core host
DRIVER_MEM_SHARE = 0.15
# the driver's part of peak_mem_mb: what Spark's memory manager holds
# (cached blocks, execution buffers) and the JVM's non-heap memory. Peak heap
# in use is left out: it counts garbage not yet collected, so it follows the
# collector's timing (768-1448 MB over six runs of one crawl_mixed input size)
PEAK_MEM_PARTS = ("OnHeapUnifiedMemory", "OffHeapUnifiedMemory",
                  "JVMOffHeapMemory")


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    driver_mib = max(1024, int(mem_kb / 1024 * DRIVER_MEM_SHARE))
    return {"cores": cores, "mem_gib": round(mem_kb / 2**20, 2),
            "driver_mem": f"{driver_mib}m"}


def configure_env(host: dict) -> None:
    """Environment the driver JVM and its Python workers inherit."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # no hsperfdata files under /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = host["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(CACHE, "spark-local")
    # Python workers import the UDFs' module by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for every process
    this one started to end."""
    from pyspark import SparkContext

    from perfbench.observe import descendants

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    # spark.stop() keeps these; a later session in this process must launch
    # a new gateway rather than reuse the dead one
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < end:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def end_to_end(workload: str, rec, setup_s: float, peak_mem: int,
               n_docs: int) -> dict[str, float]:
    from perfbench.workloads import LEGS

    first, second = LEGS[workload]
    med = {leg: statistics.median(rec.samples[leg]) if rec.samples.get(leg)
           else 0.0 for leg in (first, second)}
    both = med[first] + med[second]
    return {
        "setup_s": setup_s,
        "peak_mem_mb": peak_mem / 2**20,
        "ok_ops_ratio": (rec.attempted - rec.failed) / max(rec.attempted, 1),
        "first_leg_s": med[first],
        "second_leg_s": med[second],
        "docs_per_s": n_docs / both if both else 0.0,
        "recall": statistics.median(rec.recall) if rec.recall else 0.0,
    }


# the names under which each workload's legs and recall are printed
DISPLAY = {
    "crawl_mixed": ("exact_leg_s", "near_leg_s", "dup_doc_recall"),
    "substring_search": ("index_build_s", "probe_s", "probe_hit_recall"),
}


def report(workload: str, rec, metrics: dict, units: dict, info: dict) -> None:
    from perfbench.workloads import LEGS

    print(f"# {workload} seed={info['seed']} docs={info['n_docs']} "
          f"cores={info['cores']} mem_gib={info['mem_gib']} "
          f"driver_mem={info['driver_mem']} pyspark={info['pyspark']} "
          f"java={info['java']} generate_s={info['generate_s']:.2f}")
    names = DISPLAY[workload]
    for leg, name in zip(LEGS[workload], names):
        s = rec.samples.get(leg, [])
        t = tail(s)
        tail_txt = f"p{t[0]:.0f}={t[1]:.4f} s" if t else "tail n/a (<11 samples)"
        med = statistics.median(s) if s else float("nan")
        print(f"#   {name:<26} median={med:.4f} s  {tail_txt}  n={len(s)}")
    for k, v in metrics.items():
        print(f"#   {k:<26} {v:.6g} {units[k]}")
    print(f"#   {names[2]:<26} = recall; ops {rec.attempted} attempted, "
          f"{rec.failed} failed")


def run_one(args, spec: dict) -> int:
    t_process = time.perf_counter()
    host = host_info()
    configure_env(host)
    sys.path.insert(0, ROOT)
    from perfbench import inputs
    from perfbench.observe import PythonRssSampler, StageStats, Tracer

    import pyspark

    from corpus_dedup_spark.plans.session import build_session
    from perfbench import workloads as wl

    # input and shuffle partitions: bench.py's
    # max(cores, 8, min(3 * cores, docs // 8000))
    parts = max(host["cores"], 8,
                min(3 * host["cores"], inputs.CRAWL_DOCS // 8000))
    # a missing input is generated before the session starts, so setup_s is
    # the same whether or not an earlier run cached it
    cache_dir = os.path.join(CACHE, "inputs")
    generate_s = inputs.generate(cache_dir, args.seed)
    inp = inputs.load(cache_dir, args.seed)
    t0 = time.perf_counter()
    spark = build_session(
        app_name=f"perfbench_{args.workload}",
        master=f"local[{host['cores']}]", shuffle_partitions=parts,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the driver's memory peaks for peak_mem_mb, sampled this often
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    session_start_s = time.perf_counter() - t0
    sampler = PythonRssSampler().start()
    try:
        wl.log(f"session up at {time.perf_counter() - t_process:.1f} s")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer()
        ctx = wl.Ctx(spark, inp, parts,
                     os.path.join(CACHE, "work", args.workload),
                     StageStats(spark), tracer)
        reads, warm_s, warm = wl.setup(ctx, args.workload)
        wl.log(f"set up at {time.perf_counter() - t_process:.1f} s")
        rec = wl.measure(ctx, args.workload, args.seconds, bool(args.trace),
                         deadline=t_process + DEADLINE_S)
        rec.attempted += warm.attempted
        rec.failed += warm.failed
        rec.checks += warm.checks
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        jvm_peak = ctx.stats.driver_peak_memory()
        wl.log(f"measured at {time.perf_counter() - t_process:.1f} s")
    finally:
        sampler.stop()
        stop_spark(spark)
    wl.log(f"stopped at {time.perf_counter() - t_process:.1f} s")

    n_docs = inp["n_docs"]
    setup_s = session_start_s + statistics.median(reads) + warm_s
    peak_mem = sum(jvm_peak[k] for k in PEAK_MEM_PARTS) + sampler.peak_bytes
    e2e = end_to_end(args.workload, rec, setup_s, peak_mem, n_docs)
    info = {"workload": args.workload, "seed": args.seed, "n_docs": n_docs,
            **host, "pyspark": pyspark.__version__, "java": java,
            "generate_s": generate_s, "session_start_s": session_start_s,
            "input_reads_s": reads, "warm_up_s": warm_s,
            "samples": rec.samples,
            "traced_samples": rec.traced, "checks": rec.checks,
            "driver_peak_bytes": jvm_peak,
            "python_peak_bytes": sampler.peak_bytes,
            "python_peak_processes": sampler.peak_processes}
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layer = wl.per_layer(rec, session_start_s)
        metrics = {k: layer[k] for k in names}
        tracer.write(os.path.join(CACHE, "traces",
                                  f"{args.workload}_seed{args.seed}.json"),
                     info=info, per_layer=metrics)
        gap = metrics["trace.phase_gap_ratio"]
        if gap > 0.10:
            print(f"warning: phase walls miss a leg wall by {gap:.1%}",
                  file=sys.stderr)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: e2e[k] for k in units}
    report(args.workload, rec, e2e, {m["name"]: m["unit"]
                                     for m in spec["end_to_end"]}, info)
    result = {"correct": rec.failed == 0 and rec.attempted > 0,
              "attempted": rec.attempted, "failed": rec.failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(CACHE, "results", f"{args.workload}_seed{args.seed}"
                           f"_trace{args.trace}.json"), "w") as f:
        json.dump({**info, "e2e": e2e, "result": result}, f, indent=1)
    print(json.dumps(result))
    return 0


def main() -> int:
    if not os.path.isdir(os.path.join(ROOT, "corpus_dedup_spark")):
        print("error: corpus_dedup_spark/ not found beside perfbench/; "
              "run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload != "all":
        return run_one(args, spec)
    status = 0
    for w in WORKLOADS:
        status |= subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)])
    return status


if __name__ == "__main__":
    sys.exit(main())
