"""Benchmark of the flink_psl_spark engine: one workload, one seed.

Usage (from the repository root):
    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 \
        --trace 0

Workloads: relational, llm_curation, iterative_streaming (registry queries
run in this process) and gateway_sql (REST clients against the SQL gateway
in a child process). ``--trace 1`` traces half of the timed ops, interleaved
with untraced ones (batch: each query runs once untraced and once traced;
gateway: every second statement of a client), and reports per-layer metrics
instead of end-to-end ones, plus the tracing overhead in the detail line.

Stdout ends with a detail line (every metric, the environment, the checks)
and then the result line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The detail and, for traced runs, the spans are also written to
``.perfbench/out/`` under the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import engine  # noqa: E402
from perfbench.trace import (RssSampler, process_start_time,  # noqa: E402
                             steal_seconds)
from perfbench.workloads import GATEWAY, LAYERS, SF, WORKLOADS  # noqa: E402


def _benchmark_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_process = process_start_time()
    spec = _benchmark_spec()
    work = os.path.join(os.getcwd(), ".perfbench")
    tmp = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "out"), exist_ok=True)
    engine.pin_environment(tmp)
    steal0 = steal_seconds()
    try:
        with RssSampler() as rss:
            if args.workload == GATEWAY:
                from perfbench import gateway_bench as impl
            else:
                from perfbench import batch as impl
            result = impl.run(args.workload, args.seed, args.seconds,
                              bool(args.trace), t_process, tmp)
    finally:
        engine.wait_for_descendants()
        shutil.rmtree(tmp, ignore_errors=True)

    e2e = result["end_to_end"]
    e2e["setup_s"] = result["setup_s"]
    e2e["peak_rss_mb"] = rss.peak_mb
    e2e["peak_rss_by_process_mb"] = rss.peak_by_name
    e2e["host_steal_s"] = steal_seconds() - steal0
    wrong = result["check"]["wrong"]
    e2e["error_rate"] = e2e["failed"] / e2e["attempted"]
    e2e["wrong_results"] = len(wrong)
    # None: no result was fit to prove that the check flags wrong results
    correct = (not wrong and e2e["failed"] == 0
               and result["check"]["self_test_missed"] == [])

    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "sf": SF,
        "env": engine.describe(), "end_to_end": e2e, "check": result["check"],
        "setup": result["setup"],
    }
    if args.trace:
        layers = result["per_layer"]
        traced = result["traced_end_to_end"]
        detail["per_layer"] = layers
        detail["layer_table"] = LAYERS
        detail["trace_overhead"] = {
            k: traced[k] - e2e[k]
            for k in ("latency_p50_s", "latency_tail_s", "throughput_qps")}
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(work, "out", stem + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(work, "out", stem + "-spans.json"), "w") as f:
            json.dump(result["spans"], f)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": e2e["attempted"],
                      "failed": e2e["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
