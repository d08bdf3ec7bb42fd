"""Self-test of the output checks: each injected fault must fail the run.

    python3 perfbench/selftest.py

At a tenth of the normal input size, each workload runs once as is (must
exit 0) and once with its fault injected into the engine's output before
the checks see it (must exit non-zero without a correct result):

    batch_dedup         split_exact_group  one exact-dup doc moved to its own cluster
    incremental_stream  drop_pair          the only stored pair of a two-doc cluster dropped
    crawl_job           wet_count          one WET archive removed before counting
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

CASES = [
    ("batch_dedup", "split_exact_group"),
    ("incremental_stream", "drop_pair"),
    ("crawl_job", "wet_count"),
]


def _run(workload: str, inject: str | None) -> tuple[int, dict | None]:
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, os.path.join(here, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", "0", "--scale", "0.1"]
    if inject:
        cmd += ["--inject", inject]
    proc = subprocess.run(cmd, cwd=os.path.dirname(here), capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


def main() -> int:
    ok = True
    for workload, inject in CASES:
        for fault in (None, inject):
            code, result = _run(workload, fault)
            correct = result["correct"] if result else None
            expect_pass = fault is None
            good = (code == 0 and correct is True) if expect_pass else (code != 0 and correct is not True)
            ok &= good
            print(f"{'ok ' if good else 'BAD'} {workload:<20} inject={fault or '-':<18} "
                  f"exit={code} correct={correct}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
