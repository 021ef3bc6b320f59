#!/usr/bin/env python3
"""Wayback index + curation benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads: cdx_build, cdx_serve, cdx_query,
corpus_curate (see perfbench/README.md). Inputs are generated from
``--seed``; every run checks its outputs, and the last line of standard
output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
— the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (which also writes a span/ledger report under
``perfbench/_out/``). Scratch files live under ``perfbench/_work/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdx_build", "cdx_serve", "cdx_query", "corpus_curate")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ia_hadoop_tools_spark", "__init__.py")):
        print(f"perfbench: no engine package (ia_hadoop_tools_spark) in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from harness import Context

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ["TMPDIR"] = ctx.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("tmp")
    try:
        mod = importlib.import_module(f"wl_{args.workload}")
        result = mod.run(ctx)
    finally:
        ctx.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
