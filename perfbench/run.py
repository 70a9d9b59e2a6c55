#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {repo_sync,corpus_dedup}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Prints one line per metric, then, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Everything
the run writes stays under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"


def physical_ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env(work: Path) -> dict[str, str]:
    """Pin the engine's environment before Spark starts: cores from the
    CPU affinity mask (not the host's core count), a fixed driver heap
    well below physical RAM, and every scratch directory inside
    ``work``."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(1024, physical_ram_mb() // 4)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT), str(HERE)] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        # Spark's task slots already fill every core: one native thread per
        # process (Arrow, BLAS, OpenMP) keeps the Python workers from
        # oversubscribing them
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["repo_sync", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "db2pq_spark" / "__init__.py").exists():
        print(f"db2pq_spark not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    pinned = pin_env(work)
    sys.path[:0] = [str(ROOT), str(HERE)]

    from runner import execute
    from workloads import WORKLOADS

    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                "OMP_NUM_THREADS"):
        print(f"pinned {key}={pinned[key]}")
    print(f"loadavg before {loadavg()}")
    workload = WORKLOADS[args.workload](args.seed)
    try:
        result, lines, _ = execute(
            workload, args.seconds, bool(args.trace), work,
            trace_out=OUT / "traces" / f"{args.workload}_seed{args.seed}.json"
            if args.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"loadavg after {loadavg()}")
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
