"""Self-test of the benchmark's correctness checks.

Runs every workload, untraced and traced, with ``--plant``: each output
is corrupted before its check (a dropped pa_statements or evidence row,
an extra row in every HTTP response, an off-by-one query row count).
Every check must then report a failed operation — never a passing, and
possibly faster, run.

Usage (from the repository root)::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    bad = 0
    for workload in WORKLOADS:
        for trace in ("0", "1"):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", "7", "--seconds", "1", "--trace", trace, "--plant",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            if proc.returncode != 0:
                print(f"FAIL {workload} trace={trace}: exit {proc.returncode}")
                print(proc.stderr[-3000:])
                bad += 1
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ok = (
                res["correct"] is False
                and res["attempted"] >= 1
                and res["failed"] == res["attempted"]
            )
            bad += not ok
            print(
                f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace}: "
                f"{res['failed']}/{res['attempted']} planted outputs reported failed"
            )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
