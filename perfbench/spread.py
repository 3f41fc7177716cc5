"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload query_loaded --seeds 1-10 [--out runs.jsonl]

Runs ``run.py --trace 0`` once per seed, one after the other, and prints for
every end-to-end metric the median, the quartiles and the spread: the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound from
BENCHMARK.json. ``--out`` appends every result, with its ``details`` line, to a
JSON-lines file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        res.update(seed=seed, workload=args.workload, wall_s=round(wall, 1))
        res["details"] = next(
            json.loads(line[len("details "):]) for line in lines if line.startswith("details ")
        )
        results.append(res)
        print(f"seed {seed}: {wall:.0f}s correct={res['correct']} failed={res['failed']}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        print(f"{m['name']:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{(q3 - q1) / med:7.3f} {m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
