"""The batch workloads: registry queries run in this process, closed loop,
one client.

An op is one ``QUERIES[name](spark, sf_dir)`` call plus its action,
``write.format("noop").save()``. Set-up is session start, catalog
registration and one untimed pass that collects every query once and
checks it against the oracle digests. The timed phase then runs whole
passes, each in a seeded order (see ``_timed_phase``).
"""

from __future__ import annotations

import contextlib
import random
import time

from perfbench import engine, oracle
from perfbench.layers import per_layer
from perfbench.statusstore import StatusReader
from perfbench.trace import Tracer, latency_summary
from perfbench.workloads import BATCH, SF, pass_order

# A pass runs each query once; one pass alone is too few samples for a
# steady median on the seven-query workload.
MIN_PASSES = 2


def run(workload: str, seed: int, seconds: float, traced: bool,
        t_process: float, tmp: str) -> dict:
    from flink_psl_spark.queries import QUERIES
    from flink_psl_spark.queries.registry import tables

    names = BATCH[workload]
    sf_dir = oracle.fixtures_dir(SF)
    expected = oracle.load_digests(sf_dir)

    t0 = time.time()
    spark = engine.start_session(f"perfbench-{workload}", tmp)
    setup = {"session.start_s": time.time() - t0}
    try:
        t0 = time.time()
        tables(spark, sf_dir)
        setup["catalog.register_s"] = time.time() - t0
        check = _check_pass(spark, QUERIES, names, sf_dir, expected,
                            random.Random(f"{seed}-check"))

        def one_op(name: str, tracer: Tracer) -> dict:
            return _run_op(QUERIES[name], name, spark, sf_dir, tracer)

        probe = _Probe(spark) if traced else None
        with probe or contextlib.nullcontext():
            plain, traced_ops = _timed_phase(
                one_op, names, seconds, random.Random(f"{seed}-timed"), probe)
        result = {"setup_s": plain["ops"][0]["start"] - t_process,
                  "setup": setup, "check": check,
                  "end_to_end": _end_to_end(plain)}
        if probe:
            layers = per_layer(traced_ops["ops"], probe.tracer.spans,
                               probe.jobs, probe.execs)
            layers.update(setup)
            result.update(per_layer=layers, spans=probe.tracer.spans,
                          traced_end_to_end=_end_to_end(traced_ops))
        return result
    finally:
        engine.stop_session(spark)


def _check_pass(spark, queries, names, sf_dir, expected, rng) -> dict:
    """Untimed warm-up pass: one collect per query, checked by digest. The
    first query with two or more rows also proves the check flags a
    perturbed row, a dropped row and an empty result."""
    wrong: dict[str, str] = {}
    missed = None
    for name in pass_order(names, rng):
        try:
            df = queries[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            reason = oracle.check_rows(name, rows, df.columns, expected[name])
        except Exception as e:  # a failing query is a wrong result
            reason = f"{name}: {type(e).__name__}: {e}"
        if reason:
            wrong[name] = reason
        elif missed is None and len(rows) >= 2:
            missed = oracle.self_test(
                rows, lambda v, n=name, c=df.columns:
                oracle.check_rows(n, v, c, expected[n]) is not None)
    return {"wrong": wrong, "self_test_missed": missed}


def _run_op(fn, name: str, spark, sf_dir: str, tracer: Tracer) -> dict:
    """One op: the query-function call plus its action."""
    op = {"name": name, "ok": False}
    with tracer.span("op", query=name):
        op["start"] = time.time()
        try:
            with tracer.span("queries.construct") as c:
                df = fn(spark, sf_dir)
            if c:
                op["construct"] = (c["start"], time.time())
            with tracer.span("spark.action") as a:
                df.write.mode("overwrite").format("noop").save()
            if a:
                op["action"] = (a["start"], time.time())
            op["ok"] = True
        except Exception as e:  # counted in error_rate
            op["error"] = f"{type(e).__name__}: {e}"
        op["end"] = time.time()
    return op


def _timed_phase(one_op, names, seconds, rng, probe):
    """Whole passes, each in a seeded order, until ``seconds`` have elapsed
    and at least ``MIN_PASSES`` passes are done.

    With a probe every query runs twice per pass, once untraced and once
    traced, alternating which goes first, so that the tracing overhead is
    the difference of like-for-like samples; one such pass is enough.
    Returns the untraced and the traced ops, each with the wall time of its
    ops."""
    plain, traced = Tracer(False), []
    ops: list[dict] = []
    min_ops = len(names) * (1 if probe else MIN_PASSES)
    begin = time.time()
    while len(ops) < min_ops or time.time() - begin < seconds:
        for name in pass_order(names, rng):
            if probe is None:
                ops.append(one_op(name, plain))
                continue
            order = (False, True) if len(traced) % 2 == 0 else (True, False)
            for with_trace in order:
                if with_trace:
                    op = one_op(name, probe.tracer)
                    op["id"] = len(traced)
                    probe.after_op(op)
                    traced.append(op)
                else:
                    ops.append(one_op(name, plain))
                    probe.skip()
    if probe is None:
        return {"ops": ops, "wall": time.time() - begin}, None
    return ({"ops": ops, "wall": sum(o["end"] - o["start"] for o in ops)},
            {"ops": traced, "wall": sum(o["end"] - o["start"] for o in traced)})


def _end_to_end(phase: dict) -> dict:
    ops = phase["ops"]
    done = [op["end"] - op["start"] for op in ops if op["ok"]]
    lat = latency_summary(done or [0.0])
    return {
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "latency_tail_percentile": lat["tail_percentile"],
        "latency_n": lat["n"],
        "throughput_qps": len(done) / phase["wall"],
        "attempted": len(ops),
        "failed": len(ops) - len(done),
        "errors": sorted({op["error"] for op in ops if "error" in op}),
        "ops": [(op["name"], op["end"] - op["start"]) for op in ops],
    }


class _Probe:
    """What the traced phase adds: spans, materialize boundaries, a
    streaming listener, and a status-store read after each op."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.tracer = Tracer(True)
        self.reader = StatusReader(spark)
        self.jobs: list[dict] = []
        self.execs: list[dict] = []
        self._df_class = type(spark.range(1))
        self._saved: dict = {}
        self._progress: list[dict] = []
        self._seen_progress = 0
        progress = self._progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({
                    "run": str(p.runId), "rows": p.numInputRows,
                    "batch_s": p.batchDuration / 1000,
                    "state": [{"rows": s.numRowsTotal,
                               "bytes": s.memoryUsedBytes,
                               "commit_s": s.commitTimeMs / 1000,
                               "dropped": s.numRowsDroppedByWatermark}
                              for s in p.stateOperators]})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()

    def __enter__(self) -> "_Probe":
        tracer = self.tracer
        for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
            orig = getattr(self._df_class, meth)
            self._saved[meth] = orig

            def wrapper(df, *a, _orig=orig, _meth=meth, **k):
                if not tracer.active:  # an untraced op
                    return _orig(df, *a, **k)
                with tracer.span("materialize", method=_meth):
                    return _orig(df, *a, **k)

            setattr(self._df_class, meth, wrapper)
        self.spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        for meth, orig in self._saved.items():
            setattr(self._df_class, meth, orig)
        self.spark.streams.removeListener(self._listener)

    def skip(self) -> None:
        """Discard what an untraced op left in the status store."""
        self.reader.drain()
        self.reader.skip()
        self._seen_progress = len(self._progress)

    def after_op(self, op: dict) -> None:
        self.reader.drain()
        self.jobs.extend(self.reader.new_jobs())
        self.execs.extend(self.reader.new_executions())
        op["retained_mb"] = self.reader.storage_used_mb()
        op["materialize"] = [
            (s["start"], s["end"]) for s in self.tracer.spans
            if s["name"] == "materialize" and op["start"] <= s["start"]
            and s["end"] is not None and s["end"] <= op["end"]]
        op["stream"] = self._progress[self._seen_progress:]
        self._seen_progress = len(self._progress)
