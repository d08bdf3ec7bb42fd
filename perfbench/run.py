"""Dedup benchmark: one workload, closed loop, on local[4].

    python3 perfbench/run.py --workload batch_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/cache``; everything the run writes stays
under ``.perfbench_work``. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``, spans in ``.perfbench_work/run/spans.json``).
The exit code is non-zero when an output check fails or an operation
raises. ``--inject`` corrupts one output before it is checked and
``--scale`` shrinks the inputs; ``perfbench/selftest.py`` uses both to
show each check can fail.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
INJECTIONS = ("split_exact_group", "drop_pair", "wet_count")


def _environment() -> None:
    """Python workers import the engine from the checkout; every scratch
    file (shuffle, spill, JVM and Python temp files) stays under WORK.
    tmpfs shuffle scratch is off, since it would write outside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_TMPFS"] = "0"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("batch_dedup", "crawl_job", "incremental_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=INJECTIONS, default=None)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()

    _environment()
    # fails here, before any output, when the engine is not in the checkout
    import neural_locality_sensitive_hashing_spark  # noqa: F401

    from perfbench.workloads import WORKLOADS, Run

    run = Run(WORK, args.seed, args.seconds, bool(args.trace), args.inject, args.scale)
    try:
        e2e = run.drive(WORKLOADS[args.workload](run))
    finally:
        run.stop()
        _stop_jvm()
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in run.per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for msg in run.failures:
        print(f"# CHECK FAILED: {msg}", file=sys.stderr)
    correct = not run.failures
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _stop_jvm() -> None:
    """End the Spark JVM (and with it the Python workers it forked) and
    wait for it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_per_doc")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
