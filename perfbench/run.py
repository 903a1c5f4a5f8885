"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_dashboard --seed 1 --seconds 5 --trace 0

Runs one workload against the ``palo_spark`` package of the checkout it
lives in, checks every result outside the timed window, and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it record the runner environment and the workload's own
figures. All files go to ``perfbench/_work/`` and are removed at exit,
except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spans  # noqa: E402  (neither imports Spark: the env is pinned first)
from workloads import WORKLOADS, Harness  # noqa: E402


def metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def pin_env(work: str) -> dict:
    """Fix the runner environment before Spark starts: every CPU this
    process may use, a driver heap that fits the box, ``PYTHONPATH`` for
    Python workers, and all scratch (cwd, temp, Spark local dirs) inside
    ``work``."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PALO_SPARK_DRIVER_MEM": f"{heap_gb}g",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": os.path.join(work, "tmp"),
        # caps glibc's per-thread malloc arenas, a source of run-to-run
        # variation in the JVM's native memory
        "MALLOC_ARENA_MAX": "2",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the launcher JVM of spark-submit: no hsperfdata file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    os.chdir(work)
    return {"nproc": nproc, "driver_mem": f"{heap_gb}g", "mem_total_mb": mem_kb // 1024}


def shutdown(h) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers
    it started) to exit."""
    if h is None or h.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    h.spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    env = pin_env(work)
    tracer = spans.Tracer()
    if args.trace:
        spans.install(tracer)
    h = Harness(work, tracer, bool(args.trace))
    try:
        t0 = time.perf_counter()
        w = WORKLOADS[args.workload](h, args.seed)
        gen_s = time.perf_counter() - t0
        tracer.enabled = bool(args.trace)
        w.setup()
        tracer.enabled = False
        # process start to the first timed op, input generation excluded
        setup_s = time.perf_counter() - T_START - gen_s
        steal0, total0 = _cpu_steal()
        w.measure(args.seconds)
        steal1, total1 = _cpu_steal()
        w.check()
        metrics = {"setup_s": setup_s,
                   "peak_rss_mb": h.jvm_peak_rss_mb(), **w.metrics()}
        layers = w.layers() if args.trace else {}
    finally:
        tracer.restore()
        shutdown(h)
    env.update({
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "loadavg": os.getloadavg(),
        "inputs_s": gen_s,
    })
    if args.trace:
        dump = os.path.join(HERE, "_work", f"spans-{args.workload}-{args.seed}.json")
        tracer.dump(dump)
        env["spans"] = os.path.relpath(dump, ROOT)
    return {"workload": w, "metrics": metrics, "layers": layers, "env": env,
            "errors": h.errors}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "palo_spark", "__init__.py")):
        print(f"perfbench: no palo_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        res = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    end_to_end, per_layer = metric_units()
    w = res["workload"]
    for e in res["errors"]:
        print(f"perfbench error: {e}", file=sys.stderr)
    print("perfbench env: " + json.dumps(res["env"]))
    print("perfbench report: " + json.dumps({
        "workload": w.name, "seed": args.seed,
        "fail_ratio": w.failed / max(w.attempted, 1),
        **res["metrics"], **w.report()}, default=str))
    if args.trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in end_to_end.items()}
    print(json.dumps({"correct": w.failed == 0, "attempted": int(w.attempted),
                      "failed": int(w.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
