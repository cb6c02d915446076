#!/usr/bin/env python3
"""Benchmark of the paper pipeline, end to end and per layer.

    python3 perfbench/run.py --workload daily_update --seed 1 --seconds 10 --trace 0

Run from the repository root. One process runs one workload on the session
``session.get_spark`` builds by default, at ``SPARK_GRAFT_CPUS`` = the
number of usable cores. Inputs come from ``--seed`` only. Everything the
run writes (lakes, Spark scratch, temp files) lives under
``.perfbench_work/`` in the repository and is removed at exit; a traced run
also leaves its spans in ``.perfbench_out/trace-*.jsonl``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of BENCHMARK.json
with ``--trace 0``, its ``per_layer`` metrics with ``--trace 1``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_update", "research_sweep")


def _prepare_env(work: str) -> None:
    """Pin the core count and keep every scratch file inside ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def _environment() -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "binance_futures_data_lake_spark")):
        print("perfbench: the library is not next to perfbench/; run from a checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    os.chdir(work)  # spark-warehouse/ and other cwd files land in work
    try:
        import workloads

        print(json.dumps({"environment": _environment()}), flush=True)
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                               work, os.path.join(ROOT, ".perfbench_out"), spec)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
