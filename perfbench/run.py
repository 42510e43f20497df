"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_action --seed 1 --seconds 4 --trace 0

Runs one workload in this fresh process from the repository root and
prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
A full record of the run (host, inputs, per-query times, spans) is
written to ``.perfbench/results/`` under the repository root.

Exits non-zero without a result line when the package it measures is not
next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _git_commit() -> str:
    """HEAD's commit when the tree is a git checkout, else "unknown"."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def _launch_env(host: dict) -> dict:
    """Pin the environment Spark launches with: one core per CPU, local
    and temporary dirs inside the checkout, a driver heap that fits the
    host, and the repository on the Python workers' import path."""
    tmp = os.path.join(STATE_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        # no hsperfdata file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_LOCAL_DIRS": os.path.join(STATE_DIR, "spark-local"),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(host['ram_gb'] // 4)))}g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.RUNNERS:
        print(f"unknown workload {args.workload!r}; known: "
              f"{sorted(workloads.RUNNERS)}", file=sys.stderr)
        return 2

    host = _host()
    env = _launch_env(host)
    work = os.path.join(STATE_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0, ticks0 = time.monotonic(), _cpu_ticks()
    try:
        workloads.RUNNERS[args.workload](run)
        result = run.result()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    host["steal_frac"] = ticks[7] / max(1, sum(ticks))  # hypervisor noise
    host["loadavg"] = os.getloadavg()
    run.record.update(host=host, env=env, commit=_git_commit(),
                      spark=pyspark.__version__, trace=args.trace,
                      wall_s=time.monotonic() - t0, result=result)
    out_dir = os.path.join(STATE_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
