"""Reads Spark's in-process status store (jobs, stages, SQL executions)
through the JVM gateway and attributes what it finds to benchmark ops.

Works with ``spark.ui.enabled=false``: the status store is populated by the
listener bus whether or not the UI runs.
"""

from __future__ import annotations

import re

MB = 1024 * 1024

SPARK_SUMS = ("tasks", "task_s", "cpu_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb")

_PY_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
}
_SCALE = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0, "B": 1 / MB, "KiB": 1 / 1024,
          "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 ** 2}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1.2 s', '345 ms', '63.6 KiB' or
    '6,000'; multi-task metrics carry a 'total (min, med, max ...)' header
    line, whose following line starts with the total. Times come back in
    seconds and sizes in MiB."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SCALE.get(m.group(2), 1.0)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


class StatusReader:
    """Incremental reader: each ``new_jobs()`` / ``new_executions()`` call
    returns what was recorded since the previous call."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        jobs = self._store.jobsList(None)
        self._next_job = 1 + max(
            (jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
        execs = self._sql.executionsList()
        self._next_exec = 1 + max(
            (execs.apply(i).executionId() for i in range(execs.size())),
            default=-1)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        from py4j.protocol import Py4JJavaError

        out = []
        while True:
            try:
                j = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            out.append(self._job(j))
        return out

    def skip(self) -> None:
        """Move past everything recorded so far without reading it."""
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                self._store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1

    def _job(self, j) -> dict:
        from py4j.protocol import Py4JJavaError

        group = j.jobGroup()
        rec = {"id": j.jobId(),
               "group": group.get() if group.isDefined() else None,
               "submit": _opt_ms(j.submissionTime()),
               "end": _opt_ms(j.completionTime()),
               "stages": 0, **{k: 0.0 for k in SPARK_SUMS}}
        ids = j.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in self._seen_stages:
                continue
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["task_s"] += sd.executorRunTime() / 1000
            rec["cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1000
            rec["input_mb"] += sd.inputBytes() / MB
            rec["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            rec["spill_mb"] += sd.diskBytesSpilled() / MB
        return rec

    def new_executions(self) -> list[dict]:
        """SQL executions with the Python-eval node metrics they carry."""
        out = []
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            e = opt.get()
            if not e.completionTime().isDefined():
                break
            self._next_exec += 1
            rec = {"submit": e.submissionTime() / 1000,
                   **{v: 0.0 for v in _PY_METRICS.values()},
                   "python.rows_received": 0.0}
            out.append(rec)
            # one JVM call tells whether the plan has Python-eval nodes
            if "time to run Python workers" not in e.metrics().mkString("|"):
                continue
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                named = {}
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    text = values.get(m.accumulatorId())
                    if text.isDefined():
                        named[m.name()] = parse_metric(text.get())
                if "time to run Python workers" not in named:
                    continue
                for label, key in _PY_METRICS.items():
                    rec[key] += named.get(label, 0.0)
                rec["python.rows_received"] += named.get(
                    "number of output rows", 0.0)
        return out

    def storage_used_mb(self) -> float:
        """Storage memory held by cached/checkpointed blocks right now."""
        status = self._jsc.getExecutorMemoryStatus().values().iterator()
        used = 0
        while status.hasNext():
            t = status.next()
            used += t._1() - t._2()
        return used / MB


def attribute(items: list[dict], ops: list[dict]) -> dict[int, list[dict]]:
    """Assign jobs (or executions) to ops.

    The gateway tags every job of a statement with its operation handle as
    job group, so a job with a group belongs to the op of that handle, or
    to none of ``ops`` (another client's or an untraced statement, which
    may overlap an op in time). A job without a group belongs to the one op
    whose time window contains its submission; a job inside no window, or
    inside several, is left unattributed."""
    by_handle = {op["handle"]: op["id"] for op in ops if op.get("handle")}
    out: dict[int, list[dict]] = {op["id"]: [] for op in ops}
    for item in items:
        oid = by_handle.get(item.get("group"))
        if item.get("group") is None and item.get("submit") is not None:
            hits = [op["id"] for op in ops
                    if op["start"] <= item["submit"] <= op["end"]]
            if len(hits) == 1:
                oid = hits[0]
        if oid is not None:
            out[oid].append(item)
    return out
