"""Tracing overhead: the same workload and seed untraced, then traced.

    python3 perfbench/overhead.py --workload query_loaded --seed 1

Both runs print their end-to-end numbers on the ``details`` line; this
prints them side by side with the traced run's difference as a share of the
untraced value. One pair is one sample: repeat over seeds before reading a
difference smaller than the metric's run-to-run spread as overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def details(bench: dict, workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run(
        bench["command"] + ["--workload", workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise SystemExit(f"trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    line = next(l for l in p.stdout.splitlines() if l.startswith("details "))
    return json.loads(line[len("details "):])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    off = details(bench, args.workload, args.seed, 0)
    on = details(bench, args.workload, args.seed, 1)
    print(f"{'metric':28s} {'untraced':>12s} {'traced':>12s} {'diff':>7s}")
    for name, a in off["end_to_end"].items():
        b = on["end_to_end"][name]
        print(f"{name:28s} {a:12.4f} {b:12.4f} {(b - a) / a:+7.3f}")
    print(f"{'wall_s':28s} {off['wall_s']:12.4f} {on['wall_s']:12.4f} "
          f"{(on['wall_s'] - off['wall_s']) / off['wall_s']:+7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
