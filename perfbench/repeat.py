"""Run the benchmark once per seed on each workload and summarize each
end-to-end metric: every value, the median, the quartiles and the spread
(interquartile distance as a share of the median), as
``statistics.quantiles(values, n=4)`` gives them.

Usage (from the repository root):
    python3 perfbench/repeat.py --runs 10 [--first-seed 1] [--workload W ...]
        [--out perfbench/baseline/FILE.json]
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
REPO = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in workloads:
        values: dict[str, list[float]] = {}
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=REPO, capture_output=True, text=True, check=True)
            result = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": time.time() - t0,
                         "correct": result["correct"],
                         "attempted": result["attempted"],
                         "failed": result["failed"]})
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(w, runs[-1], file=sys.stderr)
        metrics = {name: {**summarize(v), "bound": bounds.get(name)}
                   for name, v in values.items()}
        report["workloads"][w] = {"runs": runs, "metrics": metrics}
        for name, m in metrics.items():
            print(f"{w} {name}: median {m['median']:.4g} "
                  f"spread {m['spread']:.3f} bound {m['bound']}",
                  file=sys.stderr)
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
