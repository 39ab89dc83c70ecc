"""Per-layer metrics of a traced phase, from its op records and spans.

Every metric is a mean per op (per query or statement) over the phase,
except ``spark.effective_parallelism`` and ``queries.construct_share``,
which are ratios of phase totals.
"""

from __future__ import annotations

from perfbench.statusstore import SPARK_SUMS, attribute
from perfbench.trace import covered, self_time_by_name

MB = 1024 * 1024


def _window_jobs(jobs: list[dict], window) -> int:
    if window is None:
        return 0
    lo, hi = window
    return sum(1 for j in jobs if j["submit"] is not None
               and lo <= j["submit"] <= hi)


def per_layer(ops: list[dict], spans: list[dict], jobs: list[dict],
              execs: list[dict]) -> dict[str, float]:
    n = max(1, len(ops))
    by_op = attribute(jobs, ops)
    execs_by_op = attribute(execs, ops)
    tot: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        tot[key] = tot.get(key, 0.0) + value

    wall = 0.0
    for op in ops:
        op_wall = op["end"] - op["start"]
        wall += op_wall
        own = by_op[op["id"]]
        add("spark.jobs", len(own))
        add("spark.stages", sum(j["stages"] for j in own))
        for k in SPARK_SUMS:
            add(f"spark.{k}", sum(j[k] for j in own))
        busy = covered([(j["submit"], j["end"]) for j in own
                        if j["submit"] is not None and j["end"] is not None],
                       op["start"], op["end"])
        add("spark.driver_gap_s", op_wall - busy)
        if "construct" in op:
            s, e = op["construct"]
            add("queries.construct_s", e - s)
            add("queries.construct_jobs", _window_jobs(own, op["construct"]))
        if "action" in op:
            s, e = op["action"]
            add("spark.action_s", e - s)
            add("spark.action_jobs", _window_jobs(own, op["action"]))
        for x in execs_by_op[op["id"]]:
            for k, v in x.items():
                if k.startswith("python."):
                    add(k, v)
        for s, e in op.get("materialize", ()):
            add("materialize.calls", 1)
            add("materialize.s", e - s)
        add("materialize.retained_mb", op.get("retained_mb", 0.0))
        _streaming(op.get("stream", ()), add)
        for k in ("submit_s", "wait_s", "fetch_s", "polls"):
            if k in op:
                add(f"gateway.{k}", op[k])

    out = {k: v / n for k, v in tot.items()}
    out["spark.effective_parallelism"] = tot.get("spark.task_s", 0.0) / wall
    out["queries.construct_share"] = (
        tot.get("queries.construct_s", 0.0) / wall)
    out["self_s"] = {k: v / n for k, v in self_time_by_name(spans).items()}
    return out


def _streaming(progress, add) -> None:
    """Streaming-layer sums of one op's micro-batch progress events; state
    size is taken from each query run's last batch."""
    last: dict[str, dict] = {}
    for p in progress:
        add("streaming.batches", 1)
        add("streaming.input_rows", p["rows"])
        add("streaming.batch_s", p["batch_s"])
        add("streaming.state_commit_s", sum(s["commit_s"] for s in p["state"]))
        add("streaming.late_dropped_rows",
            sum(s["dropped"] for s in p["state"]))
        last[p["run"]] = p
    for p in last.values():
        add("streaming.state_rows", sum(s["rows"] for s in p["state"]))
        add("streaming.state_mb", sum(s["bytes"] for s in p["state"]) / MB)
