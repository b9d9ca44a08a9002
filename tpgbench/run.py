"""Benchmark of the transcript property graph: cold graph builds and the
query server, plus a traced pass that times every layer, the streaming
ingest folds included.

Run from the repository root:

    python3 tpgbench/run.py --workload build --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of the workload; with --trace 1 they are
the per-layer ones from a traced pass. See tpgbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".tpgbench_work")

WORKLOADS = ("build", "serve")


def heap_for_host() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kib // 4 // (1024 * 1024)))}g"


def configure(run_dir: str) -> int:
    """Environment for the program, all under the run directory. Must
    run before joern_spark is imported (the data root is read at import)."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "JOERN_SPARK_DATA": os.path.join(run_dir, "data"),
            "SPARK_DRIVER_MEM": heap_for_host(),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    return cores


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "joern_spark")):
        print(f"joern_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = configure(run_dir)
    sys.path.insert(1, ROOT)

    import workloads  # noqa: PLC0415 — needs the environment set above

    try:
        result = workloads.run(args, run_dir, cores)
    finally:
        # keep only the record files (context, spans, requests)
        for name in os.listdir(run_dir):
            path = os.path.join(run_dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
    print(workloads.json_line(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
