"""Tracing overhead of one workload: runs it untraced and traced with
the same seed, prints the per-layer table of the traced run and, for
each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload <name> --seed <n> --seconds <s>

The traced run's span file and self-time table are under
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)["metrics"]
    traced = run(a.workload, a.seed, a.seconds, 1)["metrics"]
    print(f"{'per-layer metric':<44} {'value':>14}  unit")
    for name, m in traced.items():
        print(f"{name:<44} {m['value']:>14.4f}  {m['unit']}")
    print(f"\n{'tracing overhead':<44} {'untraced':>12} {'traced':>12} {'overhead':>12}")
    for name, m in plain.items():
        t = traced[f"trace.{name}"]["value"]
        print(f"{name:<44} {m['value']:>12.4f} {t:>12.4f} {t - m['value']:>+12.4f}  {m['unit']}")


if __name__ == "__main__":
    main()
