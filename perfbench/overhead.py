"""Tracing overhead of one workload: run it untraced and traced on the
same seed and compare the median pass wall times.

    python3 perfbench/overhead.py --workload wh-incremental --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.exit(f"run failed ({proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    off = metrics(args.workload, args.seed, args.seconds, 0)["pass_s"]["value"]
    on = metrics(args.workload, args.seed, args.seconds, 1)["trace.pass_s"]["value"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pass_s": off,
                      "trace.pass_s": on, "overhead": on / off - 1}))


if __name__ == "__main__":
    main()
