"""Tracing overhead: run one workload and seed untraced, then traced, and
print each end-to-end figure of both runs with the traced/untraced ratio.

    python3 perfbench/overhead.py --workload pipeline --seed 1 [--seconds 10]

Both runs are separate processes, one after the other, so they share no
JVM, cache or session state.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    lines = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout.splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain, _ = _run(args.workload, args.seed, args.seconds, 0)
    traced, result = _run(args.workload, args.seed, args.seconds, 1)
    out = {
        name: {"untraced": v, "traced": traced["end_to_end"][name], "ratio": traced["end_to_end"][name] / v}
        for name, v in plain["end_to_end"].items()
    }
    out["trace.overhead_frac"] = result["metrics"]["trace.overhead_frac"]["value"]
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
